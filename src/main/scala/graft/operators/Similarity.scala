package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `embedding: array<float>` column.
  *
  * Scale design: brute-force cosine is the correctness baseline (a single
  * broadcast of the query vector, no shuffle, scan-bounded). The scale path
  * is random-hyperplane LSH: each vector is assigned a deterministic bucket
  * by the sign pattern of 8 fixed integer hyperplanes, so a top-k probe only
  * scans its bucket (1/256 of rows in expectation) — the bucket id is also a
  * natural partition/bucketing key for a 100 TB vector table. Cosine pair
  * search for near-dup detection joins bucket-local only at scale; the full
  * pairwise variant exists for oracle-checkable small-scale verification.
  *
  * All dot products fold left-sequentially over the array so results are
  * bit-reproducible across engines.
  */
object Similarity {
  import graft.core.PackedKey.{hiOf, idOf, idRange, pack, requireIdsFit, Shift}

  /** Vector kernels as JIT-compiled UDFs, NOT `aggregate`/`zip_with` HOFs:
    * Catalyst evaluates higher-order lambdas interpreted per element
    * (measured ~10× slower for these loops). Every kernel accumulates in
    * ascending index order, exactly the left-fold the DuckDB oracles
    * mirror with list_reduce — results are bit-identical.
    */
  // Null/length semantics match the Catalyst HOF formulations these
  // replaced: a null array — or a length mismatch, which zip_with would
  // null-pad into a null sum — yields null, never an exception.
  def dotLit(emb: Column, v: Seq[Double]): Column = {
    val vv = v.toArray
    udf { (a: Seq[Float]) =>
      if (a == null || a.length != vv.length) null
      else {
        var d = 0.0; var i = 0
        while (i < vv.length) { d += a(i).toDouble * vv(i); i += 1 }
        d
      }: java.lang.Double
    }.apply(emb)
  }

  /** Pairwise dot product — the native codegen Expression
    * ([[graft.functions.DotProductExpr]]): stays inside WholeStageCodegen,
    * no per-row Seq[Float] boxing, ascending accumulation.
    */
  def dotCols(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.of(a, b)

  private val sqNormUdf = udf { (a: Seq[Float]) =>
    if (a == null) null
    else {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * a(i).toDouble; i += 1 }
      d
    }: java.lang.Double
  }

  def sqNorm(emb: Column): Column = sqNormUdf(emb)

  /** Brute-force cosine top-k against a literal query vector; the rounded
    * similarity is the sort key (with id tiebreak) for determinism.
    */
  def cosineTopK(emb: DataFrame, qv: Seq[Float], k: Int): DataFrame = {
    val sqQ = qv.foldLeft(0.0)((a, b) => a + b.toDouble * b.toDouble)
    val dot = dotLit(col("embedding"), qv.map(_.toDouble))
    val sim = round(dot / (sqrt(sqNorm(col("embedding"))) * lit(math.sqrt(sqQ))), 6)
    emb.select(col("vec_id"), col("label"), sim.as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(k)
  }

  /** Vector pairs with cosine ≥ minSim, restricted to equal LSH buckets —
    * the scale-honest near-dup search: the pair join is an equi-join on the
    * bucket key (1/2^NumPlanes of the cross product in expectation) and each
    * vector's norm is computed once before the join, so per-pair work is a
    * single dot product.
    */
  def cosinePairs(emb: DataFrame, minSim: Double): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
      bucketCol(col("embedding")).as("bucket"),
      sqrt(sqNorm(col("embedding"))).as("nrm"))
    val sim = round(
      dotCols(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")), 6)
    e.as("a")
      .join(e.as("b"), col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), sim.as("sim"))
      .filter(col("sim") >= minSim)
  }

  // ------------------------------------------------ random-hyperplane LSH

  val NumPlanes = 8
  val Dim = 64

  /** Deterministic integer hyperplanes: hp(d)(i) = ((d*67 + i*31) % 19) - 9. */
  def hyperplane(d: Int): Seq[Double] =
    (0 until Dim).map(i => (((d * 67 + i * 31) % 19) - 9).toDouble)

  /** Sign-pattern bucket id (0..2^NumPlanes-1) of an embedding column.
    *
    * A JIT-compiled UDF, not higher-order-function folds: Catalyst evaluates
    * `aggregate`/`zip_with` lambdas interpreted per element (measured ~10×
    * slower for hashing-style loops). The loop accumulates in the same
    * ascending-index order as the fold, so results are bit-identical to the
    * HOF formulation and to the oracle's list_reduce mirror.
    */
  private val bucketUdf = udf { (emb: Seq[Float]) =>
    if (emb == null || emb.length < Dim) null
    else {
      var bucket = 0L
      var d = 0
      while (d < NumPlanes) {
        var dot = 0.0
        var i = 0
        while (i < Dim) {
          dot += emb(i).toDouble * (((d * 67 + i * 31) % 19) - 9).toDouble
          i += 1
        }
        if (dot > 0.0) bucket |= 1L << d
        d += 1
      }
      bucket
    }: java.lang.Long
  }

  def bucketCol(emb: Column): Column = bucketUdf(emb)

  /** Same bucket function driver-side, for the query vector. */
  def bucketOf(v: Seq[Float]): Long =
    (0 until NumPlanes).foldLeft(0L) { (acc, d) =>
      val hp = hyperplane(d)
      val dot = v.zipWithIndex.foldLeft(0.0) { case (a, (x, i)) => a + x.toDouble * hp(i) }
      if (dot > 0.0) acc + (1L << d) else acc
    }

  /** Symmetric int8 quantization of an embedding: scale = 127/max|x|,
    * q_i = floor(x_i·scale + 0.5) — the storage/serving-side compression
    * every large ANN index applies before sharding. Emits the per-vector
    * scale and an index-weighted checksum of the quantized values (order-
    * sensitive, integer-exact) instead of 64 columns. All arithmetic is the
    * same IEEE sequence the oracle's list comprehension runs.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val mx = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val qsum = udf { (a: Seq[Float], m: java.lang.Double) =>
      if (a == null || m == null) null
      else if (m == 0.0) java.lang.Long.valueOf(0L)
      else {
        val scale = 127.0 / m
        var s = 0L; var i = 0
        while (i < a.length) {
          s += math.floor(a(i).toDouble * scale + 0.5).toLong * (i + 1); i += 1
        }
        java.lang.Long.valueOf(s)
      }
    }
    emb.select(col("vec_id"),
      round(when(mx === 0.0, 0.0).otherwise(lit(127.0) / mx), 6).as("scale"),
      qsum(col("embedding"), mx).as("qsum"))
  }

  // ------------------------------------------------------------- IVF ANN

  val IvfK = 16

  /** Deterministic coarse quantizer: the embeddings of vec_id 0..IvfK-1 act
    * as centroids (production IVF trains k-means offline and ships the
    * codebook; the engine mechanics — assign to nearest centroid, partition
    * by cell, probe few cells — are identical, and a fixed sampled codebook
    * keeps the oracle reproducible).
    */
  def ivfCentroids(emb: DataFrame): Array[Array[Double]] =
    emb.filter(col("vec_id") < IvfK).orderBy("vec_id").select("embedding")
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Squared L2 to each centroid, accumulated in ascending index order so
    * the oracle's list_reduce fold is bit-identical; argmin with lowest-id
    * tiebreak.
    */
  private[graft] def nearestCells(v: IndexedSeq[Double], cents: Array[Array[Double]], n: Int): Seq[Int] =
    cents.indices.map { c =>
      var d = 0.0; var i = 0
      val ct = cents(c)
      while (i < ct.length) { val t = v(i) - ct(i); d += t * t; i += 1 }
      (d, c)
    }.sorted.take(n).map(_._2)

  /** Cell-id column via a JIT UDF over the broadcast codebook. */
  def ivfCellCol(spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]]): Column =
    ivfCellOn(spark, cents, col("embedding"))

  /** [[ivfCellCol]] over an arbitrary embedding column (renamed sides —
    * e.g. the decontam family's `ev_emb`). Strict `<` keeps the FIRST
    * (lowest-id) centroid on a distance tie — the [[nearestCells]] order.
    */
  def ivfCellOn(spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]], embCol: Column): Column =
    ivfCellUdf(spark.sparkContext.broadcast(cents)).apply(embCol)

  /** The cell-argmin UDF over an ALREADY-broadcast codebook — callers that
    * need the codebook in several UDFs (the decontam family's eval-cell +
    * train-probe pair) share one broadcast variable. */
  private def ivfCellUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]) =
    udf { (emb: Seq[Float]) =>
      if (emb == null) null
      else {
        val v = emb.map(_.toDouble).toIndexedSeq
        val cs = bc.value
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          var d = 0.0; var i = 0
          while (i < cs(c).length) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }: Integer
    }

  /** IVF ANN: top-k by cosine scanning only the `nprobe` cells nearest the
    * query — the classic inverted-file scale path (cell is the natural
    * partition/bucketing key for a 100 TB vector table; nprobe trades recall
    * for scan fraction, here 2/16 of the data in expectation).
    */
  def ivfTopK(emb: DataFrame, qv: Seq[Float], k: Int, nprobe: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    val cents = ivfCentroids(emb)
    val probes = nearestCells(qv.map(_.toDouble).toIndexedSeq, cents, nprobe)
    val sqQ = qv.foldLeft(0.0)((a, b) => a + b.toDouble * b.toDouble)
    val dot = dotLit(col("embedding"), qv.map(_.toDouble))
    val sim = round(dot / (sqrt(sqNorm(col("embedding"))) * lit(math.sqrt(sqQ))), 6)
    emb.withColumn("cell", ivfCellCol(spark, cents))
      .filter(col("cell").isin(probes: _*))
      .select(col("vec_id"), col("label"), col("cell"), sim.as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(k)
  }

  /** Semantic dedup (the SemDeDup shape): assign every vector to its
    * k-means cell (the IVF codebook — broadcast, row-local), then drop any
    * vector whose cell contains an EARLIER-id vector with cosine ≥ `minSim`.
    * Emits per-cell evidence: totals, survivors, and an integer checksum of
    * the kept ids (all integer-exact; the only float op is the rounded
    * per-pair cosine, the q32-proven kernel).
    *
    * Scale shape: the pairwise comparison is confined to one cell — the
    * exact design of embedding-cluster dedup at corpus scale (cells are the
    * partition key; per-cell work is |cell|², bounded by clustering
    * granularity, never the corpus cross product). Norms are computed once
    * before the self-join, so per-pair work is a single codegen dot product.
    */
  def semanticDedup(emb: DataFrame, minSim: Double): DataFrame = {
    val spark = emb.sparkSession
    val cents = ivfCentroids(emb)
    val e = emb.select(col("vec_id"), col("embedding"),
      ivfCellCol(spark, cents).as("cell"),
      sqrt(sqNorm(col("embedding"))).as("nrm"))
    val sim = round(
      dotCols(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")), 6)
    val dropped = e.as("a")
      .join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.cell").as("cell"), col("b.vec_id").as("vec_id"), sim.as("sim"))
      .filter(col("sim") >= minSim)
      .select("cell", "vec_id").distinct()
    e.select("cell", "vec_id")
      .join(dropped.withColumn("is_dup", lit(1)), Seq("cell", "vec_id"), "left")
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("is_dup").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("is_dup").isNull, col("vec_id"))).as("kept_sum"))
      .withColumn("n_dropped", col("n_vecs") - col("n_kept"))
  }

  /** Hard-negative mining for contrastive training: for every anchor
    * vector, the highest-cosine vector with a DIFFERENT label inside the
    * anchor's LSH bucket (the "hard" negative — semantically close, labeled
    * apart). Deterministic pick: sim desc, candidate id asc.
    *
    * Scale shape: the anchor↔candidate pairing is an equi-join on the
    * bucket key (never the cross product — anchors at training scale are
    * the whole corpus), norms precompute before the join, and the argmax
    * is a window PARTITIONED BY ANCHOR — embarrassingly parallel.
    */
  def hardNegatives(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("label"), col("embedding"),
      bucketCol(col("embedding")).as("bucket"),
      sqrt(sqNorm(col("embedding"))).as("nrm"))
    val sim = round(
      dotCols(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")), 6)
    val pairs = e.as("a")
      .join(e.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id") &&
          col("a.label") =!= col("b.label"))
      .select(col("a.vec_id").as("anchor_id"), col("a.label").as("anchor_label"),
        col("b.vec_id").as("neg_id"), col("b.label").as("neg_label"),
        sim.as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("anchor_id").orderBy(col("sim").desc, col("neg_id").asc)
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** One Lloyd (k-means) iteration over the IVF codebook — the training step
    * production IVF runs offline to produce the coarse quantizer the serving
    * path (ivfTopK) probes. Assignment is the same JIT nearest-centroid
    * kernel as serving; the per-cell update is emitted as INTEGER evidence:
    * vector dims quantized to thousandths (floor(x·1000 + 0.5)), then
    * per-cell count + plain and index-weighted sums. Integer sums are
    * commutative-exact, so the output is independent of row order and
    * engine — the usual mean-of-doubles would be order-dependent across
    * partitions. The new centroid for a cell is (per-dim sum)/1000/n; the
    * emitted mean_w pins that arithmetic via one exact division.
    *
    * Scale shape: one broadcast codebook, one row-local kernel pass, one
    * groupBy over IvfK cells with map-side partial aggregation — the
    * canonical distributed-Lloyd round at any corpus size.
    */
  def kmeansStep(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    val cents = ivfCentroids(emb)
    val qsums = udf { (a: Seq[Float]) =>
      if (a == null) null
      else {
        var s1 = 0L; var sw = 0L; var i = 0
        while (i < a.length) {
          val q = math.floor(a(i).toDouble * 1000.0 + 0.5).toLong
          s1 += q; sw += q * (i + 1); i += 1
        }
        Array(s1, sw)
      }
    }
    emb.withColumn("cell", ivfCellCol(spark, cents))
      .withColumn("qs", qsums(col("embedding")))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(element_at(col("qs"), 1)).as("s1"),
        sum(element_at(col("qs"), 2)).as("sw"))
      .withColumn("mean_w", col("sw").cast("double") / (lit(1000.0) * col("n_vecs")))
  }

  /** LSH-bucketed ANN with multi-probe: top-k by cosine within the query's
    * bucket PLUS the NumPlanes buckets at Hamming distance 1 (one hyperplane
    * sign flipped). A query vector near a hyperplane otherwise loses its
    * true neighbours to the adjacent bucket — multi-probe restores that
    * recall for (NumPlanes+1)/2^NumPlanes of the scan (9/256 here), still
    * bucket-prunable at 100 TB since probes are an IN-list on the
    * bucket/partition key.
    */
  def lshTopK(emb: DataFrame, qv: Seq[Float], k: Int): DataFrame = {
    val sqQ = qv.foldLeft(0.0)((a, b) => a + b.toDouble * b.toDouble)
    val dot = dotLit(col("embedding"), qv.map(_.toDouble))
    val sim = round(dot / (sqrt(sqNorm(col("embedding"))) * lit(math.sqrt(sqQ))), 6)
    val qb = bucketOf(qv)
    val probes = qb +: (0 until NumPlanes).map(d => qb ^ (1L << d))
    emb.withColumn("bucket", bucketCol(col("embedding")))
      .filter(col("bucket").isin(probes: _*))
      .select(col("vec_id"), col("label"), col("bucket"), sim.as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(k)
  }

  // -------------------------------------------------- product quantization

  /** PQ geometry: PqM subspaces × PqK centroids each. A 64-dim float vector
    * compresses to PqM 4-bit-ish codes — the storage/scan side of the
    * IVF+PQ pairing (IVF routes the probe, PQ shrinks what a probe scans).
    */
  val PqM = 8
  val PqK = 16

  /** PQ codebook [m][k][dsub]: subspace m's centroids are the m-th slices
    * of the first PqK embeddings — deterministic, same sampled-codebook
    * convention (and rationale) as [[ivfCentroids]].
    */
  def pqCodebook(emb: DataFrame): Array[Array[Array[Double]]] = {
    val vs = emb.filter(col("vec_id") < PqK).orderBy("vec_id").select("embedding")
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(vs.length == PqK,
      s"PQ codebook needs embeddings with vec_id 0..${PqK - 1} present; got ${vs.length}")
    val dsub = vs(0).length / PqM
    Array.tabulate(PqM)(m => Array.tabulate(PqK)(k =>
      java.util.Arrays.copyOfRange(vs(k), m * dsub, (m + 1) * dsub)))
  }

  /** Squared L2 of `v`'s m-th slice to centroid `code`, ascending-index
    * accumulation (the oracle's list_reduce fold, bit-identical).
    */
  private def pqDist(v: Seq[Float], ct: Array[Double], m: Int): Double = {
    val dsub = ct.length
    var d = 0.0; var i = 0
    while (i < dsub) {
      val t = v(m * dsub + i).toDouble - ct(i); d += t * t; i += 1
    }
    d
  }

  /** PQ encode: per-vector code columns c0..c{PqM-1} (argmin squared-L2 per
    * subspace, strict < ⇒ lowest-code tiebreak).
    *
    * Scale shape: one broadcast codebook + one row-local JIT kernel — the
    * 100 TB vector table becomes a PqM-byte-per-row code table with no
    * shuffle at all; ADC queries then scan codes, never raw vectors.
    */
  def pqEncode(emb: DataFrame): DataFrame =
    pqEncodeWith(emb, pqCodebook(emb))

  /** [[pqEncode]] with a caller-supplied codebook — the IVF+PQ composition
    * encodes a cell-FILTERED corpus slice against the codebook trained on
    * the full table (at scale codes are pre-computed and stored; the
    * codebook never derives from a probe's slice).
    */
  def pqEncodeWith(emb: DataFrame, cb0: Array[Array[Array[Double]]]): DataFrame = {
    val spark = emb.sparkSession
    val bc = spark.sparkContext.broadcast(cb0)
    val codesUdf = udf { (a: Seq[Float]) =>
      if (a == null) null
      else {
        val cb = bc.value
        val out = new Array[Int](PqM)
        var m = 0
        while (m < PqM) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < PqK) {
            val d = pqDist(a, cb(m)(c), m)
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          out(m) = best; m += 1
        }
        out
      }
    }
    emb.withColumn("codes", codesUdf(col("embedding")))
      .select(col("vec_id") +: col("label") +:
        (0 until PqM).map(m => element_at(col("codes"), m + 1).as(s"c$m")): _*)
  }

  /** PQ ANN via asymmetric distance (ADC): the query's per-subspace
    * distance table is computed once driver-side; each encoded row's
    * approximate distance is PqM literal-array lookups summed left-to-right
    * — pure Column arithmetic inside codegen, no per-row kernel at query
    * time. Ascending-m summation matches the oracle's ordered-list fold.
    */
  def pqTopK(emb: DataFrame, qv: Seq[Float], k: Int): DataFrame = {
    val cb = pqCodebook(emb)
    val table = Array.tabulate(PqM)(m => Array.tabulate(PqK)(c => pqDist(qv, cb(m)(c), m)))
    val lookups = (0 until PqM).map(m =>
      element_at(array(table(m).map(lit): _*), col(s"c$m") + 1))
    pqEncode(emb)
      .select(col("vec_id"), col("label"),
        round(lookups.reduceLeft(_ + _), 6).as("adist"))
      .orderBy(col("adist").asc, col("vec_id")).limit(k)
  }

  /** IVF+PQ ANN — the COMPOSED index the two halves were built for (Jégou
    * et al., TPAMI 2011: coarse quantizer routes, product quantizer
    * scans): the query probes its `nprobe` nearest IVF cells, and within
    * the probed cells distance is the PQ ADC approximation over the stored
    * byte codes — raw vectors are touched by NEITHER the routing (cell ids
    * are precomputed) nor the scan (codes only).
    *
    * Scale shape: at 100 TB the code table is bucketed/partitioned by
    * cell, so the probe is partition pruning; the scanned bytes are
    * nprobe/K of the corpus × PqM bytes per row (here 8 bytes vs 256 — a
    * 32× scan-width cut on top of the 4/16 cell cut). The ADC lookups are
    * literal-array element_at's inside codegen — same kernel as [[pqTopK]]
    * (q77), same routing as [[ivfTopK]] (q60), composed.
    */
  def ivfPqTopK(emb: DataFrame, qv: Seq[Float], k: Int, nprobe: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    val cents = ivfCentroids(emb)
    val probes = nearestCells(qv.map(_.toDouble).toIndexedSeq, cents, nprobe)
    val cb = pqCodebook(emb)
    val table = Array.tabulate(PqM)(m =>
      Array.tabulate(PqK)(c => pqDist(qv, cb(m)(c), m)))
    val lookups = (0 until PqM).map(m =>
      element_at(array(table(m).map(lit): _*), col(s"c$m") + 1))
    pqEncodeWith(
        emb.withColumn("cell", ivfCellCol(spark, cents))
          .filter(col("cell").isin(probes: _*)),
        cb)
      .select(col("vec_id"), col("label"),
        round(lookups.reduceLeft(_ + _), 6).as("adist"))
      .orderBy(col("adist").asc, col("vec_id")).limit(k)
  }

  /** Cross-modal pair curation (the CLIP-style text↔embedding filter): a
    * pair survives when the TEXT side passes quality gates (word count,
    * alpha ratio — the q22 signals) AND the EMBEDDING side isn't
    * degenerate (max |component| bounded — the spikiness screen; norms are
    * unit here so a norm gate would be vacuous). Emits the surviving pairs
    * with both sides' scores.
    *
    * Scale shape: one equi-join on the shared id — at 100 TB both sides
    * are bucketed by id so the join is co-located; every gate is row-local
    * column math pushed below the join (each side filters BEFORE joining,
    * so the exchange carries survivors only). max over |components| is
    * order-independent, so float exactness needs no fold-order mirroring.
    */
  def pairCuration(docs: DataFrame, emb: DataFrame,
      minWords: Long = 12, minAlpha: Double = 0.82, maxComp: Double = 0.35): DataFrame = {
    val textSide = docs.select(
        col("doc_id"), col("source"),
        regexp_count(lower(col("text")), lit("[a-z]+")).as("n_words"),
        round(length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double")
          / length(col("text")), 6).as("alpha_ratio"))
      .filter(col("n_words") >= minWords && col("alpha_ratio") >= minAlpha)
    val embSide = emb.select(
        col("vec_id").as("doc_id"), col("label"),
        round(expr("array_max(transform(embedding, x -> abs(double(x))))"), 6)
          .as("max_comp"))
      .filter(col("max_comp") <= maxComp)
    textSide.join(embSide, Seq("doc_id"))
  }

  // --------------------------------------------------------- packed keys

  /** Packed keys: score·2^bits + id, so ascending key order is (score asc,
    * id asc) and a min / KMV bottom-k over the key IS the argmax / top-k
    * with lowest-id tiebreak — exact integer state, no rank window.
    *  - cosine: (10⁶ − sim_micro)·2⁴⁰ + id; sim ∈ [−1, 1] keeps the high
    *    field ≤ 2·10⁶ ≪ 2²³, so pk < 2⁶².
    *  - reconstruction L2: dm·2²¹ + id, dm = round(L2², 6) in micro-units;
    *    quantized L2² can exceed the cosine range, so ids get 21 bits
    *    ([[requirePackableIds]] asserts the bound).
    */
  private val L2Shift = 1L << 21

  private def cosineKey(simMicro: Column, id: Column): Column =
    pack(lit(1000000L) - simMicro, id)

  private def l2Key(dist: Column, id: Column): Column =
    round(round(dist, 6) * 1e6, 0).cast("long") * lit(L2Shift) + id

  /** sim_micro unpacked from a cosine key column named `pk`. */
  private[graft] def keySimMicro: Column = lit(1000000L) - hiOf(col("pk"))

  /** Squared L2 between two array columns: the canonical ascending fold
    * the oracle's list_reduce mirrors bit-for-bit. */
  private def l2(a: String, b: String): Column = expr(s"aggregate(zip_with($a, $b, " +
    "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), " +
    "CAST(0.0 AS DOUBLE), (a, b) -> a + b)")

  /** SEMANTIC decontamination — the embedding-space complement of the
    * verbatim q178 report: rephrased/translated benchmark leakage shares
    * no 40-char window but sits next to the eval point in embedding
    * space. Per train vector, the maximum cosine to ANY eval-source
    * vector and the eval id attaining it ((sim desc, eval_id asc) via the
    * cosine packed key — exact integer argmax, no rank window); consumers
    * threshold `max_sim_micro` to drop, or route hits through q178/q179
    * for span-level evidence. Eval membership = the documents table's
    * source label through the shared vec_id ↔ doc_id pairing (q134's
    * pairCuration convention).
    *
    * Scale shape: the eval side is benchmark-sized → broadcast; the
    * corpus-side fan-out is the q134 BroadcastNestedLoopJoin shape (the
    * optimal plan for all-pairs against a tiny broadcast side), each pair
    * one codegen dot product, and the per-vector argmax is one keyed min
    * with map-side combine — the corpus never shuffles more than its own
    * (vec_id, packed-key) rows.
    */
  def semanticDecontam(docs: DataFrame, emb: DataFrame,
      evalSource: String): DataFrame = {
    val (ev, train) = decontamSides(docs, emb, evalSource)
    nearestEval(train.crossJoin(broadcast(ev))
      .withColumn("dot", dotCols(col("embedding"), col("ev_emb")))
      .select(col("vec_id"), cosineKey(decontamSimMicro, col("eval_id")).as("pk")))
  }

  /** Per train vector, the argmax eval vector over scored (vec_id, pk)
    * decontam pairs: one keyed min of the cosine key, unpacked. */
  private def nearestEval(pairs: DataFrame): DataFrame =
    pairs.groupBy("vec_id").agg(min("pk").as("pk"))
      .select(col("vec_id"), idOf(col("pk")).as("nearest_eval_id"),
        keySimMicro.as("max_sim_micro"))

  /** Shared eval/train sides of the semantic-decontam family: the eval
    * source's vectors (docs pairing) and the train remainder. Cosine is
    * undefined for zero vectors: both sides EXCLUDE them row-locally
    * (mirrored in the oracle) — unguarded, Spark's 0/0 NaN would CAST
    * silently to sim_micro 0 while DuckDB reads NULL, the
    * silent-divergence class this family's loud id-bound check exists to
    * prevent (a corpus-wide min-norm assert would cost a full eager pass;
    * the filter is free and the honest semantics). The packed-key field
    * bound (the keepLongest/q169 convention) is checked here: eval ids
    * must fit the low 40 bits — one bounded 1-row collect, loud on
    * violation rather than silently corrupting the argmax.
    */
  private def decontamSides(docs: DataFrame, emb: DataFrame,
      evalSource: String): (DataFrame, DataFrame) = {
    val evalIds = docs.filter(col("source") === evalSource)
      .select(col("doc_id").as("vec_id"))
    val ev = emb.join(evalIds, Seq("vec_id"))
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev_emb"),
        sqrt(sqNorm(col("embedding"))).as("ev_nrm"))
      .filter(col("ev_nrm") > 0)
    val train = emb.join(evalIds, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding"),
        sqrt(sqNorm(col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0)
    val b = ev.select(idRange(col("eval_id")): _*).collect()(0)
    requireIdsFit("semanticDecontam", b.getLong(0), b.getLong(1), Shift)
    (ev, train)
  }

  /** The decontam family's shared pair score — identical tokens on the
    * brute and IVF-blocked arms so the full-probe identity holds
    * bit-for-bit.
    */
  private def decontamSimMicro: Column = expr("""CAST(round(
      round(dot / (nrm * ev_nrm), 6) * 1000000.0, 0) AS BIGINT)""")

  /** (vec_id, rnk, pk) pairs of the IVF-BLOCKED decontam family: each
    * train vector against exactly the eval vectors living in its ranked
    * probe cells. Eval vectors land in their nearest-centroid cell (the
    * deterministic q153 codebook — embeddings of vec_id < [[IvfK]]);
    * train probes rank 0..maxProbe−1 by ascending centroid distance with
    * lowest-id tiebreak ([[nearestCells]]' exact order). A pair appears
    * at most once: an eval vector has exactly ONE cell.
    *
    * Scale shape: cell is the join key — at benchmark scale the eval
    * side broadcasts (the brute op's convention); at multi-benchmark
    * scale both sides hash-partition by cell, so per-task work is
    * train-in-partition × eval-in-cell, never train × full-eval.
    */
  private def ivfDecontamPairs(spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]], ev: DataFrame, train: DataFrame,
      maxProbe: Int): DataFrame = {
    // ONE broadcast of the codebook, shared by the eval-cell and
    // train-probe UDFs
    val bc = spark.sparkContext.broadcast(cents)
    val evc = ev.withColumn("cell", ivfCellUdf(bc)(col("ev_emb")))
    val probeUdf = udf { (e: Seq[Float]) =>
      nearestCells(e.map(_.toDouble).toIndexedSeq, bc.value, maxProbe)
    }
    train
      .select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(probeUdf(col("embedding"))).as(Seq("rnk", "cell")))
      .join(broadcast(evc), Seq("cell"))
      .withColumn("dot", dotCols(col("embedding"), col("ev_emb")))
      .select(col("vec_id"), col("rnk"),
        cosineKey(decontamSimMicro, col("eval_id")).as("pk"))
  }

  /** IVF-blocked semantic decontamination — [[semanticDecontam]]'s scale
    * path for MULTI-benchmark eval sets. The brute op dots every train
    * vector against the FULL eval set: right when eval is one benchmark,
    * linear-degrading when eval unions many (10⁶+ rows). Here each train
    * vector probes only its `nprobe` nearest IVF cells and dots exactly
    * against the eval vectors inside them — expected eval-scan fraction
    * nprobe/[[IvfK]] per train vector. Same output contract as the brute
    * op; a vector whose probed cells hold no eval vector emits no row.
    * Recall is MEASURED, not assumed ([[ivfSemanticDecontamRecall]]);
    * nprobe = [[IvfK]] probes every cell and is the brute result exactly
    * (every (train, eval) pair present, identical score tokens —
    * OperatorSpec asserts it; the q155 full-probe-isolates-quantization
    * pattern, with no quantization axis here).
    */
  def ivfSemanticDecontam(docs: DataFrame, emb: DataFrame,
      evalSource: String, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= IvfK,
      s"nprobe must be in [1, $IvfK]; got $nprobe")
    val (ev, train) = decontamSides(docs, emb, evalSource)
    nearestEval(ivfDecontamPairs(emb.sparkSession, ivfCentroids(emb), ev, train, nprobe))
  }

  /** Recall of the IVF-blocked decontam vs the brute ground truth, per
    * nprobe — the evidence row that licenses running [[ivfSemanticDecontam]]
    * at scale (the q155 recall-sweep pattern). Per nprobe: train count
    * (brute emits every usable train vector), vectors the IVF arm emitted
    * at all, vectors whose (argmax eval id, sim) EXACTLY match brute's
    * packed key, and recall in ppm. All-integer output — hash-stable.
    *
    * One pair scan serves the ground truth and every nprobe: the train
    * probes rank ALL [[IvfK]] cells, so the cell-keyed join yields every
    * (train, eval) pair exactly once with its probe rank; the brute argmax
    * is a keyed min over all of them and a rank-`rnk` pair joins every
    * swept nprobe > rnk ([[fanOut]]). The pair table is the one thing
    * materialized. The 1-row train count rides the whitelisted scalar
    * cross join.
    */
  def ivfSemanticDecontamRecall(docs: DataFrame, emb: DataFrame,
      evalSource: String, nprobes: Seq[Int]): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(n => n >= 1 && n <= IvfK),
      s"nprobes must be in [1, $IvfK]; got $nprobes")
    val (ev, train) = decontamSides(docs, emb, evalSource)
    val pairs = ivfDecontamPairs(emb.sparkSession, ivfCentroids(emb), ev,
      train, IvfK)
    graft.core.Lifecycle.withPersisted(pairs) {
      val brute = pairs.groupBy("vec_id").agg(min("pk").as("bpk"))
      val matched = pairs.withColumn("nprobe", fanOut(col("rnk") + 1, nprobes))
        .groupBy("nprobe", "vec_id").agg(min("pk").as("pk"))
        .join(brute, Seq("vec_id"))
        .groupBy("nprobe").agg(
          count(lit(1)).as("n_found"),
          sum(when(col("pk") === col("bpk"), 1L).otherwise(0L))
            .as("n_argmax_match"))
      matched.crossJoin(broadcast(brute.agg(count(lit(1)).as("n_train"))))
        .select(col("nprobe"), col("n_train"), col("n_found"),
          col("n_argmax_match"),
          expr("CAST(n_argmax_match * 1000000 div n_train AS BIGINT)")
            .as("recall_micro"))
    }
  }

  /** The [[semanticDecontam]] eval side, DRIVER-materialized for
    * stream-side row-local scoring: the usable eval vectors
    * (id, embedding, norm — zero-norm excluded, as in the batch op) plus
    * the FULL eval id set (zero-norm included: exclusion of the
    * benchmark's own shard is id-based in the batch op, so the stream
    * twin must exclude ids whose vector it cannot score). Bounded: the
    * eval side is benchmark-sized — the same collect class as the ANN
    * codebooks. The id packing bound is checked here, driver-side, loud.
    */
  def evalVectorSet(docs: DataFrame, emb: DataFrame, evalSource: String)
      : (Array[(Long, Array[Float], Double)], Set[Long]) = {
    val evalIds = docs.filter(col("source") === evalSource)
      .select(col("doc_id").as("vec_id"))
    // the batch op's left_anti is against the DOCS-table id list, so the
    // stream twin excludes the same set — including eval docs with no
    // vector row or a zero-norm vector
    val allIds = evalIds.collect().map(_.getLong(0)).toSet
    val ev = emb.join(evalIds, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"),
        sqrt(sqNorm(col("embedding"))).as("ev_nrm"))
      .filter(col("ev_nrm") > 0).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    require(ev.nonEmpty,
      s"evalVectorSet: no usable (non-zero-norm) '$evalSource' vectors — " +
        "an empty eval set would silently monitor nothing")
    requireIdsFit("evalVectorSet", ev.map(_._1).min, ev.map(_._1).max, Shift)
    (ev, allIds)
  }

  // ------------------------------------ query-set ANN and recall audits

  /** The query/corpus split of every query-set operator: vec_id % 100 = 0
    * is a query, everything else is corpus. `base` carries vec_id,
    * embedding and the per-vector columns the caller needs (norm,
    * bucket); the query side renames them query_id, qv and q_<name>.
    */
  private def sides(base: DataFrame): (DataFrame, DataFrame) = {
    val isQuery = col("vec_id") % 100 === 0
    val extra = base.columns.toSeq.filterNot(Set("vec_id", "embedding"))
    (base.filter(isQuery).select(col("vec_id").as("query_id") +:
        col("embedding").as("qv") +: extra.map(c => col(c).as(s"q_$c")): _*),
      base.filter(!isQuery))
  }

  private def norm: Column = sqrt(sqNorm(col("embedding"))).as("nrm")

  /** Every (query, corpus) pair, projected to query_id + `cols`: the
    * corpus × broadcast query set fan-out (BroadcastNestedLoopJoin with
    * the BOUNDED side as build — for an all-pairs fan-out against a tiny
    * broadcast side this IS the optimal plan; a constant-key "hash join"
    * disguise constant-folds back to exactly this). */
  private def fanPairs(queries: DataFrame, corpus: DataFrame, cols: Column*): DataFrame =
    corpus.crossJoin(broadcast(queries)).select(col("query_id") +: cols: _*)

  /** The cosine key of a (corpus, query) pair: one codegen dot product
    * over the precomputed norms, rounded to 6 places, in micro-units. */
  private def queryCosineKey: Column = cosineKey(round(
    round(dotCols(col("embedding"), col("qv")) / (col("nrm") * col("q_nrm")), 6)
      * 1e6, 0).cast("long"), col("vec_id")).as("pk")

  /** The packed-key KMV bottom-k of `pk` per `keys` group (the q127
    * mechanism): k longs of mergeable, map-side-combining state per group,
    * never a per-group sort of the corpus (a rank window partitioned by
    * query would pull the ENTIRE corpus through #queries tasks). One row
    * per kept key: its 0-based rank `pos`, `pk`, and the unpacked `vec_id`.
    */
  private def topK(pairs: DataFrame, keys: Seq[String], k: Int, shift: Long): DataFrame =
    pairs.groupBy(keys.map(col): _*).agg(Sketch.kmv(k)(col("pk")).as("topk"))
      .select(keys.map(col) :+ posexplode(col("topk")).as(Seq("pos", "pk")): _*)
      .withColumn("vec_id", col("pk") % lit(shift))

  /** Batch ANN serving (q134): top-`k` cosine neighbours for EVERY query
    * of the query set in ONE corpus scan — the retrieval-curation shape
    * where queries ≪ corpus: [[fanPairs]] + [[topK]], ranked 1..k.
    */
  def queryAnnJoin(emb: DataFrame, k: Int): DataFrame = {
    val (queries, corpus) = sides(emb.select(col("vec_id"), col("embedding"), norm))
    topK(fanPairs(queries, corpus, queryCosineKey), Seq("query_id"), k, Shift)
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rn"), col("vec_id"),
        round(keySimMicro.cast("double") / 1e6, 6).as("sim"))
  }

  /** Per-query IVF cell ranking — the ONE probe-table implementation every
    * recall audit shares ([[ivfRecall]], [[ivfRecallSweep]],
    * [[ivfPqRecallSweep]]): squared-L2 of each query to each of the
    * [[IvfK]] centroids (canonical ascending fold, oracle-mirrored),
    * ranked per query with the lowest-cell tiebreak, kept to
    * `maxRank`. Broadcast-bounded: queries × IvfK rows.
    */
  private def probeRanked(queries: DataFrame,
      cents: Array[Array[Double]], maxRank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ss = queries.sparkSession
    import ss.implicits._
    val centDf = cents.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cemb")
    queries.select("query_id", "qv")
      .crossJoin(broadcast(centDf))
      .withColumn("dist", l2("qv", "cemb"))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dist"), col("cell"))))
      .filter(col("crank") <= maxRank).select("query_id", "cell", "crank")
  }

  /** Pairs tagged with their corpus cell's probe rank `crank` for the
    * pair's query (null beyond `maxRank`): the IVF arm level. The probe
    * table derives from the 16-row codebook (bounded collect, watch-list
    * class) crossed with the query set, and joins broadcast. */
  private def cellRanked(emb: DataFrame, queries: DataFrame, corpus: DataFrame,
      maxRank: Int, keys: Column*): DataFrame = {
    val cents = ivfCentroids(emb)
    fanPairs(queries, corpus.withColumn("cell", ivfCellCol(emb.sparkSession, cents)),
        col("cell") +: keys: _*)
      .join(broadcast(probeRanked(queries, cents, maxRank)), Seq("query_id", "cell"), "left")
  }

  /** The arm fan-out over a bounded grid: a pair at `level` (cell rank,
    * bucket Hamming distance, probe rank) joins every arm g ≥ level — a
    * row-local array filter + explode, no non-equi join (the suite-wide
    * no-BNLJ plan guard holds). A null level joins no arm. */
  private def fanOut(level: Column, grid: Seq[Int]): Column =
    explode(filter(array(grid.map(lit): _*), g => g >= level))

  /** THE RECALL-SWEEP KERNEL of the ANN recall audits (q149–q152, q155,
    * q157): the evaluation an ANN index ships with — recall@k of the
    * index's top-k against the brute-force ground truth, per query and
    * per arm of a tuning grid, all-integer output (hash-stable). The ANN
    * analog of q114's est-vs-exact and q139's LSH calibration: the
    * recall-vs-scan-fraction curve an operator reads to tune the index
    * BEFORE trusting it at corpus scale.
    *
    * `pairs` holds every scored (query, corpus) pair of the
    * [[fanPairs]] fan-out ONCE — query_id, the candidate key `pk`, and
    * whatever `arms` and `truth` read — and is the one table the kernel
    * materializes: both the ground truth and every arm aggregate it, so
    * the dot products / distance folds never run twice. `truth` is the
    * ground-truth key (null outside the ground-truth rows); `arms` names
    * each pair's arm(s) — usually [[fanOut]] over the grid. Per (query,
    * arm) the top-k is [[topK]]; hits are the arm's ids found in the
    * truth's (the truth side is a bounded top-k set, so it broadcasts:
    * a BroadcastHashJoin, not a sort-merge pair), micro-recall = hits ·
    * 10⁶ div k.
    *
    * Row presence: the sweeps group from the arm side (an arm with no
    * candidate emits no row); `fromTruth` groups from the truth side
    * instead, so every query emits a row even when its arm is empty.
    * Grids containing the "probe everything" arm (nprobe = [[IvfK]],
    * radius = [[NumPlanes]], m_sub = 0) yield a built-in sanity row:
    * that arm IS brute force, so it must read exactly 10⁶ — asserted by
    * the oracle, since both engines must agree on it. Scale shape: the
    * brute arm is the audit's cost, run-once by design.
    */
  private def recallSweep(pairs: DataFrame, k: Int, shift: Long, arm: String,
      arms: Column, truth: Column, fromTruth: Boolean = false): DataFrame =
    graft.core.Lifecycle.withPersisted(pairs) {
      val gt = topK(pairs.select(col("query_id"), truth.as("pk"))
        .filter(col("pk").isNotNull), Seq("query_id"), k, shift)
      val got = topK(pairs.select(col("query_id"), arms.as(arm), col("pk")),
        Seq("query_id", arm), k, shift)
      val (marked, hits, keys) =
        if (fromTruth) (gt, got, Seq(col("query_id")))
        else (got, gt, Seq(col("query_id"), col(arm).cast("int").as(arm)))
      marked.join(broadcast(hits.select(col("query_id"), col("vec_id"),
          lit(1L).as("hit"))), Seq("query_id", "vec_id"), "left")
        .groupBy(keys: _*)
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("recall_micro", expr(s"n_hits * 1000000 div $k"))
    }

  /** IVF recall audit (q149): recall@k per query of the `nprobe`-cell
    * probed top-k ([[ivfCellCol]]'s codebook) — the one-arm
    * [[ivfRecallSweep]], grouped from the truth side.
    */
  def ivfRecall(emb: DataFrame, k: Int, nprobe: Int = 2): DataFrame =
    ivfSweep(emb, k, Seq(nprobe), fromTruth = true)

  /** The nprobe tuning sweep (q150): recall@k per (query, nprobe) for a
    * whole grid in one pass; a corpus row joins every nprobe ≥ its cell's
    * probe rank (scan fraction ∝ nprobe/[[IvfK]]).
    */
  def ivfRecallSweep(emb: DataFrame, k: Int, nprobes: Seq[Int]): DataFrame =
    ivfSweep(emb, k, nprobes, fromTruth = false)

  private def ivfSweep(emb: DataFrame, k: Int, nprobes: Seq[Int],
      fromTruth: Boolean): DataFrame = {
    val (queries, corpus) = sides(emb.select(col("vec_id"), col("embedding"), norm))
    val pairs = cellRanked(emb, queries, corpus, nprobes.max, queryCosineKey)
    recallSweep(pairs, k, Shift, "nprobe", fanOut(col("crank"), nprobes),
      col("pk"), fromTruth)
  }

  /** The ONE PQ-reconstruction kernel ([[pqRecallSweep]],
    * [[ivfPqRecallSweep]]): collects the sampled codebook vectors (the
    * q76 convention — vec_id 0..PqK-1) and returns (dim, reconUdf) where
    * reconUdf(embedding, m) is the m-way quantized reconstruction — per
    * subspace, the argmin-L2 centroid's slice (ascending-index fold,
    * strict < ⇒ lowest code); m = 0 reconstructs the vector itself
    * (identity quantizer). One implementation so the composed audit's
    * full-probe ≡ [[pqRecall]] equality holds by construction, not by
    * parallel edits.
    */
  private def pqReconUdf(emb: DataFrame)
      : (Int, org.apache.spark.sql.expressions.UserDefinedFunction) = {
    val spark = emb.sparkSession
    val sample = emb.filter(col("vec_id") < PqK).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.length == PqK,
      s"PQ codebook needs embeddings with vec_id 0..${PqK - 1}; got ${sample.length}")
    val dim = sample(0).length
    val bc = spark.sparkContext.broadcast(sample)
    val reconUdf = udf { (a: Seq[Float], m: Int) =>
      if (a == null) null
      else if (m == 0) a.map(_.toDouble).toArray
      else {
        val cb = bc.value
        val dsub = dim / m
        val out = new Array[Double](dim)
        var j = 0
        while (j < m) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < PqK) {
            var d = 0.0; var i = 0
            while (i < dsub) {
              val t = a(j * dsub + i) - cb(c)(j * dsub + i); d += t * t; i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { out(j * dsub + i) = cb(best)(j * dsub + i); i += 1 }
          j += 1
        }
        out
      }
    }
    (dim, reconUdf)
  }

  /** 21-bit vec_id packing bound shared by the reconstruction-distance
    * audits (narrower than ivfRecall's 2⁴⁰ — quantized L2² needs the
    * wider distance field): assert the id range instead of silently
    * unpacking corrupt ids past 2M vectors; one column-pruned 1-row
    * aggregate on run-once audits.
    */
  private def requirePackableIds(emb: DataFrame, who: String): Unit = {
    val b = emb.select(idRange(col("vec_id")): _*).head
    requireIdsFit(who, b.getLong(0), b.getLong(1), L2Shift)
  }

  /** PQ recall audit + m-sweep (q152): recall@k per (query, m_sub) of the
    * m-way quantized top-k for each m in `ms`, plus the identity arm
    * m_sub = 0, which is the ground truth (its row reads exactly 10⁶).
    * PQ's error is quantization BIAS in every distance (Jégou et al.,
    * TPAMI 2011), not probe truncation, so the m grid is the
    * compression-vs-recall curve an operator reads to size the codes.
    * ADC distance over disjoint subspace slices telescopes,
    * Σ_j ||q_j − c_{j,code}||² = ||q − recon||², so every arm runs ONE
    * canonical 64-dim fold ([[l2]]) against its reconstruction
    * ([[pqReconUdf]]), packed with the L2 key.
    */
  def pqRecallSweep(emb: DataFrame, k: Int, ms: Seq[Int]): DataFrame = {
    val (dim, reconUdf) = pqReconUdf(emb)
    require(ms.forall(m => m > 0 && dim % m == 0),
      s"every m_sub must divide dim=$dim, got $ms")
    requirePackableIds(emb, "pqRecallSweep")
    val (queries, corpus) = sides(emb.select(col("vec_id"), col("embedding")))
    val arms = corpus
      .withColumn("m_sub", explode(array((0 +: ms).map(lit): _*)))
      .withColumn("recon", reconUdf(col("embedding"), col("m_sub")))
    val pairs = fanPairs(queries, arms, col("m_sub"),
      l2Key(l2("qv", "recon"), col("vec_id")).as("pk"))
    recallSweep(pairs, k, L2Shift, "m_sub", col("m_sub"),
      when(col("m_sub") === 0, col("pk")))
  }

  /** The production-geometry PQ recall audit (q151): the [[PqM]]-way arm
    * of [[pqRecallSweep]], same output shape as [[ivfRecall]].
    */
  def pqRecall(emb: DataFrame, k: Int): DataFrame =
    pqRecallSweep(emb, k, Seq(PqM))
      .filter(col("m_sub") === PqM)
      .select("query_id", "n_hits", "recall_micro")

  /** IVF+PQ composed recall audit (q155): recall@k per (query, nprobe) of
    * the [[PqM]]-way reconstruction top-k over the probed cells, against
    * the EXACT brute-force ground truth (identity distance, every cell).
    * The composed index inherits both error sources and their
    * interaction is not the product of the marginals — a quantization
    * error can mask a probe miss by promoting a probed impostor — so it
    * needs its own curve. The full-probe row isolates pure quantization
    * error and must equal [[pqRecall]] exactly (asserted in OperatorSpec).
    * Reconstructions compute per corpus row BEFORE the query fan-out.
    */
  def ivfPqRecallSweep(emb: DataFrame, k: Int, nprobes: Seq[Int]): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(n => n >= 1 && n <= IvfK),
      s"nprobe grid must be within 1..$IvfK, got $nprobes")
    val (dim, reconUdf) = pqReconUdf(emb)
    require(dim % PqM == 0, s"PqM=$PqM must divide dim=$dim")
    requirePackableIds(emb, "ivfPqRecallSweep")
    val (queries, corpus) = sides(emb.select(col("vec_id"), col("embedding")))
    // `xd` = the identity doubles, cast once per corpus row, not per pair
    val pairs = cellRanked(emb, queries, corpus
        .withColumn("recon", reconUdf(col("embedding"), lit(PqM)))
        .withColumn("xd", expr("transform(embedding, x -> CAST(x AS DOUBLE))")),
      nprobes.max,
      l2Key(l2("qv", "recon"), col("vec_id")).as("pk"),
      l2Key(l2("qv", "xd"), col("vec_id")).as("tk"))
    recallSweep(pairs, k, L2Shift, "nprobe", fanOut(col("crank"), nprobes),
      col("tk"))
  }

  /** Hyperplane-LSH recall sweep (q157), the audit of the fourth index
    * family (q33's multiprobe LSH): recall@k per (query, radius) of the
    * exact-cosine top-k over candidates whose bucket lies within Hamming
    * distance `radius` of the query's — one codegen bit_count per pair, no
    * probe table. Radius 1 IS q33's probe set; radius [[NumPlanes]] admits
    * every bucket ≡ brute, so that row reads exactly 10⁶ (asserted per
    * query in OperatorSpec too). Scan fraction at radius r is
    * Σ_{i≤r} C(P,i)/2^P in expectation; at 100 TB the arms would scan
    * bucket-partitioned slices instead, with identical recall numbers.
    */
  def lshAnnRecallSweep(emb: DataFrame, k: Int, radii: Seq[Int]): DataFrame = {
    require(radii.nonEmpty && radii.forall(r => r >= 0 && r <= NumPlanes),
      s"radius grid must be within 0..$NumPlanes, got $radii")
    // bucketUdf yields null for null/short embeddings; an unfiltered null
    // bucket would silently drop the row from every ARM (null hd joins no
    // arm) while the brute arm still ranks it — breaking the
    // radius = NumPlanes ≡ brute invariant. Drop malformed rows from BOTH
    // sides instead, so the audit population is consistent.
    val (queries, corpus) = sides(emb.select(col("vec_id"), col("embedding"), norm,
      bucketCol(col("embedding")).as("bucket")).filter(col("bucket").isNotNull))
    val pairs = fanPairs(queries, corpus,
      bit_count(col("bucket").bitwiseXOR(col("q_bucket"))).cast("int").as("hd"),
      queryCosineKey)
    recallSweep(pairs, k, Shift, "radius", fanOut(col("hd"), radii), col("pk"))
  }

  /** Per-label embedding statistics — the class prototype (nearest-class-
    * mean classification, contrastive anchor means) and per-dimension
    * variance (feature-collapse / dead-dimension detection) a training
    * pipeline derives from a labeled embedding table.
    *
    * Integer discipline: each component quantizes to micro-units FIRST
    * (round(x·10⁶)), so the per-(label, dim) sums are exact long
    * arithmetic — a double mean over rows would be order-dependent and
    * hash-unstable. centroid = sum div n and var = E[x²] − E[x]² use
    * integer division, mirrored in the oracle.
    *
    * Scale shape: posexplode emits dim-many rows per vector and ONE keyed
    * aggregate with map-side combine collapses them; output is
    * #labels × dim rows. No window, no collect.
    */
  def labelStats(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xm", round(col("x").cast("double") * 1e6, 0).cast("long"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("xm").as("s"),
        sum(col("xm") * col("xm")).as("ss"))
      .select(col("label"), col("pos"), col("n"),
        expr("s div n").as("centroid_micro"),
        expr("(ss div n) - (s div n) * (s div n)").as("var_micro2"))
}
