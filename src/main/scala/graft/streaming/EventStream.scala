package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured Streaming path over the events table: the same hourly
  * aggregation the batch side exposes (SparkEntry q24), expressed as a
  * watermarked streaming query — late events beyond the watermark are
  * dropped, state is bounded per (window, event_type).
  *
  * The reference has no streaming surface (SURVEY.md §2.8) — "real-time" is
  * rebuild + pointer swap; this module is the forward-looking stream variant
  * of that rebuild for the training-data pipeline use case.
  */
object EventStream {

  /** File-source stream of an events directory (parquet; `ts` may arrive as
    * long nanos, TIMESTAMP, or TIMESTAMP_NTZ — normalized exactly like the
    * batch side, OccurrenceView.normalizeTs, so streaming results compare
    * equal to their batch formulations).
    */
  def readEvents(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    graft.operators.OccurrenceView.normalizeTs(
      spark.readStream.schema(schema).parquet(dir))

  /** Sliding-window counts (1h window, 15min slide) with a watermark —
    * out-of-order events land in all windows they overlap until the
    * watermark passes; state per (window, event_type) only.
    */
  def slidingCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("tstamp", "1 hour")
      .groupBy(window(col("tstamp"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n"))

  /** Stream-static enrichment: broadcast-join the event stream against a
    * static dimension (per-user aggregate) — the streaming analog of the
    * reference's dictionary lookups; no stream-side state.
    */
  def enriched(stream: DataFrame, userDim: DataFrame): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(userDim), Seq("user_id"))

  /** Incremental tile-index maintenance: a streaming aggregation over
    * occurrence batches keeps per-(view, zoom-z pixel) counts continuously
    * up to date — where the reference can only rebuild the whole index and
    * swap a pointer (FinaliseBackfill.java:64-106), a stream of appends
    * updates exactly the touched pixel rows. State is the live pixel
    * aggregate; downstream tile encode/serve reads the update stream.
    *
    * State sizing: one entry per live (view, pixel, bor_year) — bounded by
    * 4^z × #views × #bor-years, fine through z6 (the reference's own tile
    * store depth, ≤4096 tiles/view). At z16 the live pixel set approaches
    * the full A4 table: run the incremental stream at serving zooms and
    * leave max-zoom to the batch rebuild, or shard the query by view
    * ranges so each stream's state store holds its slice only.
    */
  def incrementalPixelCounts(occStream: DataFrame, epsg: String, z: Int): DataFrame =
    graft.operators.MapBuild.pixelAggAt(occStream, epsg, z)

  /** Multi-zoom tile serving OFF the streaming pixel state — the streaming
    * analog of the q111/q145 incremental pyramid: the streaming aggregation
    * ([[incrementalPixelCounts]] at the max serving zoom) keeps the pixel
    * state continuously current, and each serve derives EVERY requested
    * zoom from that state with the same rollup the batch pyramid uses
    * (MapBuild.pyramidFromState) — so a tile pyramid served mid-stream
    * equals the batch `pyramid()` over exactly the prefix ingested so far
    * (OperatorSpec pins that equality at two successive micro-batches).
    *
    * The split of labor is the scale design: the state store holds only the
    * z-grain pixel aggregate (bounded 4^z × #views × #bor-years — the
    * [[incrementalPixelCounts]] bound), while the ×levels fan-out and
    * per-level re-aggregation run OUTSIDE the streaming query on the
    * served snapshot, where Catalyst plans them exactly as the batch path
    * (a multi-level rollup inside one streaming query would need chained
    * streaming aggregations, which complete-mode serving neither allows
    * nor needs). The string-keyed state's map_key encodes to the long key
    * once, before the first exchange; a malformed key fails the serve.
    */
  def pyramidServe(pixelState: DataFrame, minZoom: Int, maxZoom: Int): DataFrame =
    graft.operators.MapBuild.pyramidFromState(
      pixelState
        .withColumn("map_key", graft.operators.MapBuild.encodeMapKey(col("map_key")))
        .groupBy("map_key", "px", "py")
        .agg(sum("occ_count").as("total")),
      minZoom, maxZoom)

  /** Streaming HLL register index at the max serving zoom — the streaming
    * analog of the q114 distinct-cardinality pyramid's one corpus pass:
    * per-(tile, register) max-rho is a MAX aggregation, so the streaming
    * state merges new batches exactly as the batch build folds rows
    * (registers only ever grow), and the state is bounded at
    * 4^maxZoom × m registers regardless of throughput — the same ideal
    * fixed-size-state shape as [[cmsSketch]]/[[bloomBits]], here carrying
    * per-TILE sketches instead of one global one.
    */
  def hllRegisterStream(occStream: DataFrame, epsg: String, maxZoom: Int): DataFrame =
    graft.operators.MapBuild.tileRegisters(occStream, epsg, maxZoom)

  /** Distinct-cardinality tiles at every requested zoom OFF the streaming
    * register state ([[hllRegisterStream]]'s snapshot): registers roll up
    * the tile tree by register-wise MAX (a parent's sketch is exactly the
    * merge of its children's), then estimate — the q114 serving chain run
    * on the continuously-maintained state. Like [[pyramidServe]], the
    * ×levels fan-out runs OUTSIDE the streaming query, on state that is
    * 4× smaller per level as it rolls.
    */
  def distinctPyramidServe(regState: DataFrame, minZoom: Int, maxZoom: Int): DataFrame =
    graft.operators.MapBuild.registerRollup(regState, minZoom, maxZoom)

  /** Incremental LSH band-bucket index: streaming aggregation over document
    * appends keeps per-(band, bh) bucket sizes and the bucket's minimum
    * doc id continuously current — the ingest-time half of near-dup
    * detection (a new document's candidate set is a point lookup of its
    * NumBands buckets in this index; the batch candidate join q29 is the
    * backfill twin). Signature + banding are row-local (Dedup.bandKeys),
    * so the stream shuffles only (band, bh, doc) keys; state is one entry
    * per live bucket — at most NumBands × M.
    */
  def lshBandIndex(docStream: DataFrame): DataFrame =
    graft.operators.Dedup.bandKeys(docStream)
      .groupBy("band", "bh")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))

  /** Streaming count-min sketch maintenance: the batch sketch aggregation
    * (Sketch.sketchCells) run as a streaming aggregation over document
    * appends. The state is the sketch itself — AT MOST d·w counter cells
    * no matter how much streams through, the ideal streaming-state shape
    * (contrast dedupStream, whose state grows with distinct keys). Counters
    * only ever add, so the incremental sketch equals the batch build
    * exactly (OperatorSpec).
    */
  def cmsSketch(docStream: DataFrame): DataFrame =
    graft.operators.Sketch.sketchCells(docStream)

  /** Streaming Bloom-filter maintenance: per-bit document counts over the
    * append stream — the set bits are the rows, so membership serving reads
    * `pos IN bits` exactly as the batch filter (Sketch.bloomIngest) does,
    * and the count makes bits DELETABLE (a count reaching zero clears the
    * bit — a counting Bloom filter, which a plain bit set cannot do).
    * State is bounded by m = [[graft.operators.Sketch.BloomM]] cells no
    * matter how much streams through — the same ideal fixed-size-state
    * shape as [[cmsSketch]]. Counters only add on an append stream, so the
    * incremental bit set equals the batch build exactly (OperatorSpec).
    */
  def bloomBits(docStream: DataFrame): DataFrame =
    graft.operators.Sketch.bloomPositionRows(docStream)
      .groupBy("pos").agg(count(lit(1)).as("n_docs"))

  /** Streaming DSIR LM maintenance: the per-bucket (raw, target)
    * hashed-bigram counts of Corpus.dsirLm kept incrementally over
    * document appends. Counts only ever add, so the streaming state after
    * any batch split equals the batch LM over the same prefix EXACTLY —
    * and the state is AT MOST `buckets` rows (4096 at the q167 default)
    * no matter how much text streams through: the same ideal
    * fixed-size-state shape as [[cmsSketch]]/[[bloomBits]]. Serving scores
    * a doc batch against the latest snapshot via Corpus.dsirScoreAgainst.
    */
  def dsirLmStream(docStream: DataFrame, targetLang: String,
      buckets: Int): DataFrame =
    graft.operators.Corpus.dsirLm(docStream, targetLang, buckets)

  /** Streaming Gopher rule card: Corpus.gopherQualityCard run as a
    * streaming aggregation over document appends — possible because the
    * round-8 rewrite made every rule (including the bigram max, a
    * sorted-run fold over the doc's own bigrams) ROW-LOCAL, leaving one
    * source-keyed sum whose counters only add. State is one row of 7
    * counters per source (a config-scale dimension) — the quality monitor
    * an ingest stream publishes continuously, batch-equal at every
    * micro-batch by construction.
    */
  def gopherCardStream(docStream: DataFrame): DataFrame =
    graft.operators.Corpus.gopherQualityCard(docStream)

  /** Streaming PII monitor: Corpus.piiReport as a streaming aggregation —
    * the scrub is entirely row-local regex and the report is one
    * source-keyed sum of add-only counters, so the continuous monitor is
    * batch-equal at every micro-batch with one counter row per source.
    * The alarm an ingest pipeline wants BEFORE the leak lands in a
    * training shard.
    */
  def piiReportStream(docStream: DataFrame): DataFrame =
    graft.operators.Corpus.piiReport(docStream)

  /** Streaming ExactSubstr gram-count index — the ingest-time half of the
    * q165 duplication profile: the (source, gram-key, cnt) table kept
    * incrementally over document appends. The window explode and the
    * 63-bit gram key are row-local (Dedup.gramCounts), so the stream
    * shuffles only 8-byte keys; counters only ever add, so the state
    * after any batch split equals the batch table over the same prefix
    * EXACTLY. State is one row per live (source, distinct-gram) — the
    * corpus-vocabulary dimension; production bounds it the same way the
    * LM/HLL monitors do (the hashed key already caps row WIDTH, and a
    * coarser `hashBits` trades collision-inflation measured by q177 for
    * state rows).
    */
  def gramCountStream(docStream: DataFrame, L: Int): DataFrame =
    graft.operators.Dedup.gramCounts(docStream, L)

  /** Duplicated-gram-share profile OFF the streaming gram state — the
    * copy-burst ingest alarm: per source, internal vs external duplicated
    * window positions and the duplicated share, computed by the SAME
    * profile code as the batch q165 (Dedup.sourceDupProfileFromCounts)
    * over a [[gramCountStream]] snapshot. The pyramidServe shape: state
    * maintained streaming, report derived batch-side, prefix-equal by
    * construction (OperatorSpec-asserted across a 2-batch split).
    */
  def dupProfileServe(gramState: DataFrame): DataFrame =
    graft.operators.Dedup.sourceDupProfileFromCounts(gramState)

  /** Streaming CONTAMINATION monitor — q178's ingest-time twin (the 21st
    * streaming operator): per source, the running count of window
    * positions whose L-gram appears verbatim in the (static, broadcast)
    * eval gram-key set. Stream-static semi-join against the benchmark
    * keys (row-local — the stream shuffles only the one source-keyed
    * counter), counters add-only, so the monitor is batch-equal on any
    * ingested prefix. THE alarm to fire before a contaminated crawl shard
    * reaches training — q178 is the forensic report, this is the tripwire.
    * `evalSource` rows in the stream are excluded, as in q178: the
    * benchmark's own shard must not trip a permanent false alarm.
    */
  def decontamMonitorStream(docStream: DataFrame, evalGrams: DataFrame,
      evalSource: String, L: Int): DataFrame =
    graft.operators.Dedup.evalHitCounts(docStream, evalGrams, evalSource, L)

  /** Streaming SEMANTIC-contamination monitor — q180's ingest-time twin
    * (the 22nd streaming operator, completing the decontamination
    * quartet's streaming story: q178→tripwire, q180→this). Per source,
    * running (n_vectors, n_flagged ≥ `minSimMicro`, max max_sim_micro)
    * over a stream of train vectors scored against the STATIC benchmark
    * embedding set. The stream must carry (vec_id, embedding, source).
    *
    * Scoring is row-local: the eval set is driver-materialized
    * ([[graft.operators.Similarity.evalVectorSet]] — benchmark-sized,
    * the ANN-codebook collect class) and rides the scorer's closure, so
    * the plan stays O(1) regardless of benchmark size (a literal eval
    * ARRAY would grow the plan per eval row) and the only stream state
    * is one add-only counter row per source — batch-equal on any
    * ingested prefix. The scorer replays the batch op's arithmetic
    * bit-for-bit: ascending-index double dot (DotProductExpr's loop),
    * `round(round(dot/(nrm·evNrm), 6)·10⁶, 0)` via the same
    * BigDecimal.valueOf/HALF_UP semantics as Spark's `Round`, and the
    * (sim desc, eval_id asc) packed-key argmax — OperatorSpec asserts
    * 2-batch streamed ≡ one-shot q180 rollup, decimals included. The
    * benchmark's own shard is excluded by ID (the full eval id set,
    * zero-norm evals included — exactly the batch left_anti); null and
    * zero-norm train vectors are unscoreable and uncounted (the batch
    * filter(nrm > 0) class); a dimension-mismatched (train, eval) pair
    * contributes no vote, and a vector with NO valid pair still counts
    * in n_vectors with a null similarity — exactly what the batch
    * crossJoin + groupBy emits for it.
    */
  def semanticDecontamMonitorStream(embStream: DataFrame, docsStatic: DataFrame,
      embStatic: DataFrame, evalSource: String, minSimMicro: Long): DataFrame = {
    val (evals, evalIdSet) = graft.operators.Similarity
      .evalVectorSet(docsStatic, embStatic, evalSource)
    semanticMonitorAgg(embStream, evalIdSet, minSimMicro)(_ => evals)
  }

  /** The ONE streamed semantic-scorer + rollup, shared by the brute and
    * IVF monitors so the bit-for-bit arithmetic contract (BigDecimal
    * HALF_UP chain, 2⁴⁰ packed key, Excluded sentinel, counter rollup)
    * lives in exactly one place — the full-probe ≡ brute identity must
    * never depend on two hand-synced copies. `candidates(emb)` yields the
    * eval vectors this embedding may pair with (full set for the brute
    * twin, probed cell buckets for the IVF twin); the closure and
    * everything it captures ride the udf to the executors.
    *
    * Sentinels: −1 = "unscoreable row, EXCLUDE" (null/zero-norm embedding
    * — the batch op's filter(nrm > 0) class); SQL-null pk = "scoreable
    * vector, no valid pair" (dimension-mismatched everywhere — the batch
    * crossJoin yields all-null pks and its groupBy still emits the
    * vector, so the twin COUNTS it in n_vectors with flagged 0). The
    * eval-shard exclusion rides the closure (an isInCollection filter
    * would embed every eval id as a plan literal — plan growth); the
    * vec_id param is boxed because a null vec_id must SCORE (the batch
    * left_anti keeps null-keyed rows — null matches no eval id; a
    * primitive param would short-circuit the udf to null and count the
    * row unscored).
    */
  private def semanticMonitorAgg(embStream: DataFrame, evalIdSet: Set[Long],
      minSimMicro: Long)(
      candidates: Seq[Float] => Array[(Long, Array[Float], Double)])
      : DataFrame = {
    val Excluded = -1L
    val score = udf { (vecId: java.lang.Long, emb: Seq[Float]) =>
      if (vecId != null && evalIdSet.contains(vecId)) Some(Excluded)
      else if (emb == null) Some(Excluded)
      else {
        var n2 = 0.0
        var i = 0
        while (i < emb.length) { n2 += emb(i).toDouble * emb(i).toDouble; i += 1 }
        val nrm = math.sqrt(n2)
        if (nrm <= 0) Some(Excluded)
        else {
          var best = Long.MaxValue
          candidates(emb).foreach { case (id, ev, evNrm) =>
            if (ev.length == emb.length) {
              var d = 0.0
              var j = 0
              while (j < ev.length) { d += emb(j).toDouble * ev(j).toDouble; j += 1 }
              val s6 = java.math.BigDecimal.valueOf(d / (nrm * evNrm))
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              val sm = java.math.BigDecimal.valueOf(s6 * 1000000.0)
                .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
              val pk = graft.core.PackedKey.pack(1000000L - sm, id)
              if (pk < best) best = pk
            }
          }
          if (best == Long.MaxValue) None else Some(best)
        }
      }
    }
    embStream
      .withColumn("pk", score(col("vec_id"), col("embedding")))
      .filter(col("pk").isNull || col("pk") =!= Excluded)
      .select(col("source"),
        graft.operators.Similarity.keySimMicro.as("max_sim_micro"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("max_sim_micro") >= minSimMicro, 1L).otherwise(0L))
          .as("n_flagged"),
        max(col("max_sim_micro")).as("max_sim_micro"))
  }

  /** Streaming IVF-BLOCKED semantic monitor — q183's ingest-time twin (the
    * 23rd streaming op). Same counters as
    * [[semanticDecontamMonitorStream]], but the scorer probes only the
    * `nprobe` nearest IVF cells' eval vectors per stream vector (the q153
    * codebook — embeddings of vec_id < IvfK off the STATIC table), so
    * per-vector work is ~nprobe/IvfK of the eval set — the monitor that
    * stays flat when eval unions many benchmarks. Counter semantics:
    * `n_vectors` counts every scoreable vector (the brute twin's
    * convention — a vector whose probed cells hold no eval pair still
    * counts, with a null sim); `n_flagged`/`max_sim_micro` roll up exactly
    * [[graft.operators.Similarity.ivfSemanticDecontam]]'s output
    * (OperatorSpec asserts the 2-batch streamed counters ≡ that rollup,
    * and that nprobe = IvfK equals the brute monitor bit-for-bit). Recall
    * of the blocking itself is measured by q183 — the monitor inherits
    * that license, it does not re-derive it.
    */
  def ivfSemanticDecontamMonitorStream(embStream: DataFrame,
      docsStatic: DataFrame, embStatic: DataFrame, evalSource: String,
      minSimMicro: Long, nprobe: Int): DataFrame = {
    import graft.operators.Similarity
    require(nprobe >= 1 && nprobe <= Similarity.IvfK,
      s"nprobe must be in [1, ${Similarity.IvfK}]; got $nprobe")
    val (evals, evalIdSet) = Similarity
      .evalVectorSet(docsStatic, embStatic, evalSource)
    val cents = Similarity.ivfCentroids(embStatic)
    require(cents.nonEmpty, "ivf monitor needs a non-empty codebook " +
      s"(embeddings of vec_id < ${Similarity.IvfK})")
    val dim = cents(0).length
    // eval vectors grouped by their (single) cell, driver-side — the same
    // benchmark-bounded closure payload as the brute twin, re-bucketed.
    // Cell routing is only defined at the codebook dimension: OFF-dim eval
    // vectors keep their own bucket (they can only ever pair with a train
    // vector of THEIR length, which is itself unroutable), so arbitrary
    // mixed-dimension input scores exactly as the brute twin does instead
    // of crashing inside nearestCells
    val (onDim, offDim) = evals.partition(_._2.length == dim)
    val cellsOf: Array[Array[(Long, Array[Float], Double)]] = {
      val by = onDim.groupBy { case (_, ev, _) =>
        Similarity.nearestCells(ev.map(_.toDouble).toIndexedSeq, cents, 1).head
      }
      Array.tabulate(cents.length)(c => by.getOrElse(c, Array.empty))
    }
    semanticMonitorAgg(embStream, evalIdSet, minSimMicro) { emb =>
      if (emb.length != dim) offDim
      else Similarity.nearestCells(emb.map(_.toDouble).toIndexedSeq, cents,
        nprobe).toArray.flatMap(cellsOf)
    }
  }

  /** Streaming exact deduplication: emit each content hash's FIRST document
    * only, across micro-batches — the ingest-time twin of the batch exact
    * dedup (q19). `dropDuplicates` on the md5 key keeps one state entry per
    * distinct hash; with an event-time column + watermark the state would be
    * pruned, here the corpus-dedup case wants full history (state size =
    * distinct docs, the same cardinality the batch groupBy shuffles).
    */
  def dedupStream(docStream: DataFrame): DataFrame =
    docStream
      .withColumn("text_hash", md5(col("text")))
      .dropDuplicates("text_hash")

  /** Streaming dedup with BOUNDED state — the variant [[dedupStream]]'s
    * doc promises: `dropDuplicatesWithinWatermark` keeps a hash's state
    * only until the watermark passes its event time + delay, so state is
    * proportional to the duplicate-arrival window (here 1 hour), not to
    * all history. The semantics weaken accordingly: duplicates separated
    * by MORE than the watermark delay re-emit — the right trade for
    * at-ingest stream hygiene where near-in-time duplicate bursts (retry
    * storms, double-sends) are the target and corpus-history dedup runs
    * in batch (q19/q85).
    */
  def dedupStreamBounded(eventStream: DataFrame): DataFrame =
    eventStream
      .withWatermark("tstamp", "1 hour")
      .dropDuplicatesWithinWatermark("event_type", "value")

  /** Streaming KMV distinct-sketch maintenance: per-source bottom-k of the
    * document content hashes, kept incrementally across micro-batches. The
    * KmvAgg buffer is order- and partition-insensitive (bottom-k of a union
    * is the merge of bottom-ks), so the streaming state after any batch
    * split equals the batch sketch over the same prefix EXACTLY — and the
    * state is k longs per source, the fixed-size-state shape of
    * [[cmsSketch]]/[[bloomBits]]. Serving reads the latest snapshot and
    * applies the same estimate/intersection algebra as the batch q112.
    */
  def kmvSketchStream(docStream: DataFrame, k: Int): DataFrame = {
    docStream
      .select(col("source"), graft.operators.Dedup.cpFold32(col("text")).as("h"))
      .groupBy("source").agg(graft.operators.Sketch.kmv(k)(col("h")).as("kmv"))
  }

  /** Incremental inverted-index maintenance: per term, the running df and
    * the KMV bottom-k posting prefix over document APPENDS — the streaming
    * twin of Corpus.invertedIndex (q123), possible precisely because both
    * aggregates are mergeable (count; bottom-k state of k longs). Each doc
    * arrives once, so within-row `array_distinct` IS the batch build's
    * per-(doc, term) distinct — no cross-batch dedup state needed.
    */
  def invertedIndexStream(docStream: DataFrame, minLen: Int, k: Int): DataFrame = {
    docStream
      .select(col("doc_id"),
        explode(array_distinct(graft.operators.Corpus.tokens(col("text")))).as("w"))
      .filter(length(col("w")) >= minLen)
      .groupBy("w").agg(count(lit(1)).as("df"),
        graft.operators.Sketch.kmv(k)(col("doc_id")).as("ids"))
  }

  final case class SessState(lastTsec: Long, nSessions: Long, nEvents: Long)

  /** Stateful gap-based sessionization (30-min gap) via mapGroupsWithState —
    * the streaming twin of the batch window-function sessionize (q25). State
    * per user is three longs; events within a micro-batch are sorted per
    * group, and session continuity carries across batches through the state
    * store. Outputs a running (user_id, n_sessions, n_events) snapshot per
    * update; both counters are monotone, so the max per user is the final.
    */
  def sessionize(spark: SparkSession, stream: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    stream.select(col("user_id").as[Long], col("tsec").as[Long])
      .groupByKey(_._1)
      .mapGroupsWithState[SessState, (Long, Long, Long)](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long)], state) =>
          val sorted = it.map(_._2).toArray.sorted
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          sorted.foreach { t =>
            val isNew = st.lastTsec == Long.MinValue || t - st.lastTsec > 1800
            st = SessState(t, st.nSessions + (if (isNew) 1L else 0L), st.nEvents + 1L)
          }
          state.update(st)
          (uid, st.nSessions, st.nEvents)
      }.toDF("user_id", "n_sessions", "n_events")
  }

  final case class FunnelState(t1: Long, t2: Long, t3: Long)

  /** Stateful streaming funnel: the mapGroupsWithState twin of the batch
    * ordered funnel (EventAnalytics.funnel) for a fixed 3-stage sequence.
    * Per user the state is three timestamps (unset = Long.MinValue); each
    * micro-batch's events are processed in time order, and a stage only
    * fires STRICTLY AFTER the previous stage's recorded time — processing
    * first-qualifying in time order IS the batch min-after semantics, so
    * with batches that respect event-time order (the append-log case) the
    * running snapshot equals the batch result exactly (OperatorSpec).
    * Late events that jump batches are the watermark caveat shared with
    * any stateful op; the batch rebuild is the reconciliation path.
    */
  def funnelStream(spark: SparkSession, stream: DataFrame,
      stages: (String, String, String)): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val unset = Long.MinValue
    stream.select(col("user_id").as[Long], col("event_type").as[String],
        col("tmicro").as[Long])
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelState, (Long, Option[Long], Option[Long], Option[Long], Int)](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, String, Long)], state) =>
          var st = state.getOption.getOrElse(FunnelState(unset, unset, unset))
          it.toArray.sortBy(_._3).foreach { case (_, et, t) =>
            if (et == stages._1 && st.t1 == unset)
              st = st.copy(t1 = t)
            else if (et == stages._2 && st.t1 != unset && t > st.t1 && st.t2 == unset)
              st = st.copy(t2 = t)
            else if (et == stages._3 && st.t2 != unset && t > st.t2 && st.t3 == unset)
              st = st.copy(t3 = t)
          }
          state.update(st)
          val o = (v: Long) => if (v == unset) None else Some(v)
          val stage = Seq(st.t1, st.t2, st.t3).count(_ != unset)
          (uid, o(st.t1), o(st.t2), o(st.t3), stage)
      }.toDF("user_id", "t1", "t2", "t3", "stage")
  }

  /** Stream-stream interval join: each click paired with every error from
    * the same user in the preceding hour. Both sides carry watermarks, so
    * the join state is pruned — Spark retains error rows only for the
    * 1-hour interval plus the watermark delay, never the whole stream
    * (inner-join matches emit immediately; the watermark bounds state, not
    * output latency). The batch twin is a plain inner join with the same
    * time-range predicate.
    */
  def clickErrorJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("tstamp").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("tstamp").as("err_ts"))
      .withWatermark("err_ts", "10 minutes")
    clicks.join(errors,
        col("user_id") === col("err_user") &&
          col("err_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
          col("err_ts") <= col("click_ts"))
      .select(col("click_id"), col("err_id"), col("user_id"))
  }

  /** Continuous rebuild-and-swap: every micro-batch of occurrence appends
    * is accumulated and the FULL store is rebuilt and atomically
    * re-pointed — the reference's backfill lifecycle (Backfill →
    * FinaliseBackfill table swap) driven by a Structured Streaming trigger
    * instead of a scheduler. Readers resolve through the manifest, so each
    * rebuild lands atomically and the previous version stays for rollback.
    * This is the max-zoom/batch path; the bounded-state incremental
    * alternative for serving zooms is [[incrementalPixelCounts]].
    */
  def continuousRebuild(spark: SparkSession, inDir: String, schema: StructType,
      accumDir: String, workDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.core.NioLocalFileSystem.writer(batch).mode("append")
          .parquet(s"$accumDir/lineitem.parquet")
        graft.sources.Workflow.build(batch.sparkSession, accumDir, workDir)
        ()
      }
      .start()

  /** Continuous INCREMENTAL ingest onto the prunable store layout — the
    * delta-proportional twin of [[continuousRebuild]]: each micro-batch of
    * raw occurrence appends derives the occurrence view
    * (OccurrenceView.occFrom) and runs the store lifecycle's pruned
    * incremental update (Workflow.incrementalUpdate) instead of a full
    * rebuild. Per batch that means: the persisted pixel state is read
    * through the coarse-cell partition filter (only the batch's spatial
    * footprint opens), clean cells carry to the new version by FILE COPY,
    * only dirty tiles re-encode MVT, and the manifest swaps atomically —
    * so ingest cost tracks the BATCH footprint, not store size, and
    * readers see a consistent version at every point.
    *
    * The store must exist (Workflow.build) before the stream starts —
    * the stream maintains versions v2, v3, … on top of it — and
    * `projections`/`maxZoom` MUST match the build's (the lifecycle updates
    * exactly the per-projection state/tile trees it is pointed at; an
    * ingest run with fewer projections would version the store with the
    * missing projections' trees absent — the defaults here deliberately
    * MIRROR Workflow.build's 4-SRS/z6 defaults so the default composition
    * is safe). Batch-equality
    * (a store maintained by N micro-batches ≡ one fresh rebuild over
    * base + all batches) is pinned by the SinkSpec streaming-lifecycle
    * test, including the clean-cell copy proof.
    *
    * Scale shape: state-scan/encode costs are the q145/lifecycle ones
    * (delta-proportional); the foreachBatch body runs the same plans the
    * batch lifecycle runs, so nothing here adds streaming-only state —
    * the store itself IS the state, versioned on disk.
    */
  def continuousIncrementalIngest(spark: SparkSession, inDir: String,
      schema: StructType, workDir: String,
      projections: Seq[String] = graft.sources.Workflow.AllProjections,
      maxZoom: Int = 6, checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream
    // EXACTLY-ONCE wrt the store: the keyed addition is not idempotent, so
    // a replayed micro-batch (source restart, crash between the manifest
    // swap and the streaming commit) must be detected and SKIPPED. The
    // batch-id watermark rides IN the manifest, so store state + watermark
    // commit in one atomic rename — a batch is re-applied only if its id
    // exceeds the watermark the last committed version recorded.
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val last = graft.sources.Workflow.readManifest(workDir)
          .map(_.streamBatch).getOrElse(-1L)
        if (batchId > last && !batch.isEmpty)
          graft.sources.Workflow.incrementalUpdate(batch.sparkSession,
            graft.operators.OccurrenceView.occFrom(batch.toDF()),
            workDir, projections, maxZoom, streamBatch = batchId)
        ()
      }
      .start()
  }

  /** Watermarked hourly tumbling-window counts per event type. */
  def hourlyCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("tstamp", "1 hour")
      .groupBy(window(col("tstamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
}
