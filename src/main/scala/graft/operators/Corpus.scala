package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus hygiene operators beyond the reference's map scope:
  * benchmark decontamination, repetition-based quality signals, and
  * temperature-scaled domain mixing. All are shuffle-lean formulations of
  * the standard LLM data-pipeline passes.
  *
  * Tokenization matches the repo-wide convention (whitespace split of the
  * trimmed text, q20/q52) so every operator shares one token definition.
  */
object Corpus {

  /** Whitespace tokens of `text`; empty text → empty array (not [""]). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Word n-grams as ONE JIT-compiled pass over the token array — the
    * `transform(sequence, i -> array_join(slice(...)))` HOF formulation
    * evaluates interpreted per element with an O(n) slice per gram
    * (measured ~3× slower on this path, the repo-wide HOF-vs-JIT pattern).
    * Output values are identical, so the DuckDB list-comprehension oracles
    * are unchanged. `distinct` = first-occurrence order, matching
    * array_distinct / list_distinct.
    */
  private def ngramUdf(n: Int, distinct: Boolean) = udf { (toks: Seq[String]) =>
    if (toks == null || toks.length < n) Array.empty[String]
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](toks.length - n + 1)
      val seen = if (distinct) scala.collection.mutable.HashSet.empty[String] else null
      val arr = toks.toArray
      var i = 0
      while (i <= arr.length - n) {
        val sb = new java.lang.StringBuilder(arr(i))
        var j = 1
        while (j < n) { sb.append(' ').append(arr(i + j)); j += 1 }
        val g = sb.toString
        if (seen == null || seen.add(g)) out += g
        i += 1
      }
      out.toArray
    }
  }

  /** Distinct word n-grams of `toksCol` (a token-array column), space-joined. */
  def distinctNgrams(toksCol: String, n: Int): Column =
    ngramUdf(n, distinct = true)(col(toksCol))

  /** All word n-grams (with repeats) of `toksCol`, space-joined. */
  def allNgrams(toksCol: String, n: Int): Column =
    ngramUdf(n, distinct = false)(col(toksCol))

  /** Benchmark decontamination: for every corpus doc (not in the eval
    * source), the count and fraction of its distinct word `n`-grams that
    * also appear in ANY eval-source doc.
    *
    * Scale shape: the eval set is tiny relative to the corpus (a benchmark,
    * not the crawl), so its distinct-gram set is collected into a broadcast
    * and the corpus side is a broadcast LEFT SEMI join — the 100 TB corpus
    * never shuffles; the only wide op is the per-doc count, which re-uses
    * the gram explode's partitioning via partial aggregation.
    */
  def decontaminate(docs: DataFrame, evalSource: String, n: Int,
      threshold: Double): DataFrame = {
    val withG = docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("grams", distinctNgrams("toks", n))
    val evalGrams = withG.filter(col("source") === evalSource)
      .select(explode(col("grams")).as("gram")).distinct()
    val corpus = withG.filter(col("source") =!= evalSource)
    val shared = corpus
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    corpus
      .select(col("doc_id"), col("source"), size(col("grams")).as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("overlap",
        col("n_shared").cast("double") / greatest(col("n_grams"), lit(1)))
      .withColumn("contaminated", (col("overlap") >= threshold).cast("int"))
  }

  /** Gopher-style repetition signals per document: duplicate-word fraction,
    * top-single-word fraction, top-bigram fraction. Empty docs are dropped
    * (no denominator).
    *
    * Scale shape: one explode + two keyed aggregations, all partitioned by
    * doc_id — partial aggregation collapses each doc's words map-side, so
    * the shuffle carries (doc, word) counts, not raw tokens.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("bgs", allNgrams("toks", 2))
      .filter(size(col("toks")) > 0)
    val words = base.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_word"))
    val bigrams = base.select(col("doc_id"), explode(col("bgs")).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram"))
    words.join(bigrams, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_words"),
        ((col("n_words") - col("n_distinct")).cast("double") / col("n_words"))
          .as("dup_word_frac"),
        (col("top_word").cast("double") / col("n_words")).as("top_word_frac"),
        (coalesce(col("top_bigram"), lit(0L)).cast("double") /
          greatest(col("n_words") - 1, lit(1))).as("top_bigram_frac"))
  }

  /** The q50/q51 LCG id hash — deterministic, engine-portable sampling
    * key. The id is reduced mod 2³¹ BEFORE the multiply: mathematically a
    * no-op ((id mod 2³¹)·K ≡ id·K (mod 2³¹), so every value for id < 2³¹ —
    * all oracle-mirrored data — is unchanged), but it keeps the Long
    * product exact for the full [0, 2⁴⁰) id domain the graph operators
    * admit; the unreduced form overflows at id ≈ 2³³, going negative (or
    * throwing under ANSI) — which would, e.g., let every large-id neighbor
    * through the bounded-LPA Bernoulli threshold and void its state bound.
    */
  def lcg(id: Column): Column =
    ((id % 2147483648L) * 1103515245L + 12345L) % 2147483648L

  /** Temperature-scaled domain mixing: each source keeps
    * `min(count, ceil(sqrt(count) * boost))` docs — the alpha=0.5 sampling
    * temperature that up-weights small domains relative to proportional
    * sampling. Doc selection is the lowest LCG hashes (deterministic).
    *
    * Scale shape — the q119 quota mechanism, window-free: per-source
    * keep-counts come from a tiny aggregate (bounded by #domains); the
    * lowest-hash pick is the n_keep-prefix of each source's SORTED KMV
    * bottom-k sketch (sized from the max quota — a driver collect bounded
    * by #sources), membership via broadcast semi-join. Identical selection
    * to the old per-source rank window — the LCG is a bijection mod 2³¹,
    * so per-source hashes are distinct and "lowest n_keep hashes" is
    * exactly the window's (lcg, doc_id) pick — but the state is n_keep
    * longs of mergeable aggregation state per source instead of one task
    * sorting the whole source. The formula is per-source (no cross-source
    * normalization), so no order-dependent double sum exists anywhere.
    */
  def temperatureMix(docs: DataFrame, boost: Double): DataFrame =
    Sketch.quotaPick(docs, boost, lcg(col("doc_id")), Seq("doc_id", "n_chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))

  /** TF-IDF top-`k` terms per source: term frequency within the source,
    * inverse document frequency over the whole corpus,
    * `score = tf * ln(N / df)` rounded to 6 places (ln is the one
    * non-portable float op). Deterministic tiebreak (score desc, term asc).
    *
    * Scale shape: two aggregations over the exploded words (both keyed, both
    * partially aggregated map-side), a broadcast of the corpus size scalar,
    * and a top-k via BOUNDED aggregation state ([[TopKTermsAgg]], the KmvAgg
    * pattern over (score, term) structs) — never a window partitioned by
    * source alone, which would sort a whole source's vocabulary in one task
    * (the suite-wide PlanSpec guard caught the old window formulation). The
    * df table is |vocab|-sized — the join keeps (source, word) keyed so AQE
    * can pick the join side.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val base = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) > 0)
    val words = base.select(col("doc_id"), col("source"),
      explode(col("toks")).as("w"))
    val df_ = words.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    val n = base.select(countDistinct(col("doc_id")).as("n_docs"))
    val tf = words.groupBy("source", "w").agg(count(lit(1)).as("tf"))
    val scored = tf.join(df_, Seq("w")).crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val topk = udaf(new TopKTermsAgg(k),
      org.apache.spark.sql.Encoders.product[(Double, String, Long, Long)])
    scored.groupBy("source")
      .agg(topk(col("score"), col("w"), col("tf"), col("df")).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("source"), col("t._2").as("w"), col("t._3").as("tf"),
        col("t._4").as("df"), col("t._1").as("score"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** Bounded per-group top-k as MERGEABLE aggregation state — the window-
    * free grouped top-k for keys that don't pack into a long (the q127/
    * groupedTopK trick): each partial holds at most k (score, term, tf, df)
    * entries ordered (score desc, term asc), merges keep the best k, so a
    * group of any size costs k state and no per-group sort. Determinism:
    * (score, term) is unique within a group (term is), so the order has no
    * ties to break arbitrarily.
    */
  class TopKTermsAgg(k: Int) extends org.apache.spark.sql.expressions.Aggregator[
      (Double, String, Long, Long),
      Seq[(Double, String, Long, Long)],
      Seq[(Double, String, Long, Long)]] {
    private val ord =
      Ordering.by[(Double, String, Long, Long), (Double, String)](t => (-t._1, t._2))
    def zero: Seq[(Double, String, Long, Long)] = Nil
    def reduce(buf: Seq[(Double, String, Long, Long)],
        a: (Double, String, Long, Long)): Seq[(Double, String, Long, Long)] =
      if (buf.length >= k && ord.lteq(buf.last, a)) buf
      else (a +: buf).sorted(ord).take(k)
    def merge(a: Seq[(Double, String, Long, Long)],
        b: Seq[(Double, String, Long, Long)]): Seq[(Double, String, Long, Long)] =
      (a ++ b).sorted(ord).take(k)
    def finish(buf: Seq[(Double, String, Long, Long)]): Seq[(Double, String, Long, Long)] = buf
    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, String, Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, String, Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** BM25 retrieval: top-`k` documents for a bag-of-terms query, Robertson
    * `idf = ln(1 + (N - df + 0.5)/(df + 0.5))` and the standard saturated
    * term frequency `tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))`. The total
    * score is a FIXED-ORDER sum: per-term scores are pivoted to one column
    * per query term (max over a singleton — no float aggregation) and added
    * left-to-right, so the result is independent of row order in both
    * engines; only the final total is rounded.
    *
    * Scale shape: the explode is filtered to the query terms BEFORE any
    * shuffle (the scan discards every non-query token map-side), df/tf are
    * tiny keyed aggregates, the corpus length stats are one scalar broadcast,
    * and the top-k is order-by-limit (TakeOrdered, no global sort).
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) > 0)
    val dl = base.select(col("doc_id"), col("source"),
      size(col("toks")).cast("long").as("dl"))
    val words = base.select(col("doc_id"), explode(col("toks")).as("w"))
      .filter(col("w").isin(terms: _*))
    val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val corpus = base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("sum_dl"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfc = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val scored = tf.join(broadcast(dfr), Seq("w")).join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("w"), (idf * tfc).as("s"))
    val piv = scored.groupBy("doc_id").agg(
      max(when(col("w") === terms.head, col("s"))).as(s"s0"),
      terms.tail.zipWithIndex.map { case (t, i) =>
        max(when(col("w") === t, col("s"))).as(s"s${i + 1}")
      }: _*)
    val total = terms.indices.map(i => coalesce(col(s"s$i"), lit(0.0)))
      .reduceLeft(_ + _)
    dl.join(piv, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("dl"),
        round(total, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Vocabulary-coverage quality scoring: per document, how many of its
    * token OCCURRENCES fall inside the corpus's top-`vocabSize` vocabulary
    * (by count desc, term asc — deterministic), the OOV rate, and the mean
    * in-vocab corpus frequency. All counts are integer-exact; the two rates
    * are single IEEE divisions (no order-dependent float sum anywhere).
    *
    * Scale shape: one vocab aggregate (keyed, partial-agg) → top-K via
    * order-by-limit (bounded, broadcast back), then one per-doc aggregate
    * over the exploded tokens — the 100 TB corpus shuffles once, keyed by
    * doc_id, with the vocab lookup map-side.
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int): DataFrame = {
    val base = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) > 0)
    val words = base.select(col("doc_id"), explode(col("toks")).as("w"))
    val vocab = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(vocabSize)
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(col("cnt")).as("n_in_vocab"),
        sum(coalesce(col("cnt"), lit(0L))).as("sum_vocab_freq"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - col("n_in_vocab")).as("n_oov"),
        ((col("n_tokens") - col("n_in_vocab")).cast("double") /
          col("n_tokens")).as("oov_rate"),
        (col("sum_vocab_freq").cast("double") / col("n_tokens"))
          .as("mean_vocab_freq"))
  }

  /** Deterministic global training order WITHOUT a single-partition window:
    * each doc's shuffle key is the LCG hash; its exact global position is
    * `bucket offset + rank within bucket`, where the 256 buckets are the
    * hash's top bits (so bucket order == hash order), the per-bucket
    * histogram is a bounded aggregate whose running offsets are computed
    * driver-side (256 rows — same boundedness argument as the A1 view
    * TreeSet) and broadcast back, and the rank is a row_number window
    * PARTITIONED BY BUCKET — every stage is parallel at 100 TB, unlike the
    * textbook `row_number() OVER (ORDER BY hash)` which serializes the
    * corpus through one task.
    */
  def globalOrderIndex(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val withB = docs.select(col("doc_id"), lcg(col("doc_id")).as("h"))
      .withColumn("bucket", shiftright(col("h"), 23))
    val hist = withB.groupBy("bucket").agg(count(lit(1)).as("c"))
      .orderBy("bucket").collect()
    var acc = 0L
    val offs = hist.map { r =>
      val o = (r.getLong(0), acc); acc += r.getLong(1); o
    }.toSeq
    val offDf = spark.createDataFrame(offs).toDF("bucket", "off")
    val w = Window.partitionBy("bucket").orderBy(col("h").asc, col("doc_id").asc)
    withB.join(broadcast(offDf), Seq("bucket"))
      .withColumn("pos", col("off") + row_number().over(w) - 1)
      .select(col("doc_id"), col("h"), col("pos"))
  }

  /** Context-window chunking: each document becomes overlapping token-span
    * chunks of `window` tokens advancing by `stride` (< window ⇒ overlap of
    * window−stride tokens, the standard LM packing prelude). Emits pure
    * span arithmetic (start/end token offsets) — deterministic in any
    * engine; materializing chunk text is a trailing `slice` on the token
    * array, row-local.
    *
    * Scale shape: one generator explode per doc with ≤ ⌈n/stride⌉ rows —
    * no shuffle at all; chunking is embarrassingly row-parallel.
    */
  def chunkSpans(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(0 < stride && stride <= window, "need 0 < stride <= window")
    docs
      .withColumn("n_tokens", size(tokens(col("text"))))
      .filter(col("n_tokens") > 0)
      .withColumn("tok_start",
        explode(sequence(lit(0), col("n_tokens") - 1, lit(stride))))
      .select(
        col("doc_id"),
        (col("tok_start") / stride).cast("long").as("chunk_idx"),
        col("tok_start").cast("long"),
        least(col("tok_start") + window, col("n_tokens")).cast("long")
          .as("tok_end"),
        (least(col("tok_start") + window, col("n_tokens")) - col("tok_start"))
          .cast("long").as("n_chunk_tokens"))
  }

  /** Regex redaction (the PII-scrub shape): every match of `pattern` is
    * replaced by `mask`; emits per-doc hit counts and the scrubbed length.
    * The pattern must stay in the Java∩RE2 common regex subset (no
    * backrefs/lookaround) so one pattern text runs identically in Spark and
    * any RE2-based engine.
    *
    * Scale shape: row-local regex, no shuffle — the cost model is regex
    * engine throughput, which is why the scrub runs ONCE per doc emitting
    * both count and replacement from the same pattern.
    */
  def regexScrub(docs: DataFrame, pattern: String, mask: String): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(pattern)).cast("long").as("n_hits"),
      length(regexp_replace(col("text"), pattern, mask)).cast("long")
        .as("scrubbed_len"))

  /** Exact discrete quantiles of the per-doc token count, per source: the
    * value at 1-based rank ⌈p·n⌉ of the counts sorted ascending — the
    * rank formula shared verbatim with the oracle (interpolating
    * `percentile_cont` definitions differ subtly between engines; the
    * discrete rank statistic is bit-exact everywhere).
    *
    * Since round 9 this IS the histogram decomposition
    * ([[tokenQuantilesHist]]): a (source, n_tokens) histogram first, then
    * cum-count rank selection over histogram rows — no task ever sorts a
    * whole source (the last production source-alone window left the repo
    * with this change; PlanSpec's whitelist is empty). The row-sorted
    * formulation survives as [[tokenQuantilesRowSort]], the TEST-side
    * audit reference (CorpusSpec asserts hist ≡ row-sort on a random
    * corpus) — running the one-task-per-source sort inside the production
    * plan would pay the scale-killer on every execution to audit its own
    * replacement.
    */
  def tokenQuantilesDisc(docs: DataFrame, ps: Seq[Double]): DataFrame =
    tokenQuantilesHist(docs, ps)

  /** The row-sorted rank-window formulation of [[tokenQuantilesDisc]] —
    * audit reference ONLY (a window partitioned by source alone serializes
    * a whole source through one task; the suite-wide PlanSpec ban keeps it
    * out of every production plan).
    */
  private[graft] def tokenQuantilesRowSort(docs: DataFrame,
      ps: Seq[Double]): DataFrame = {
    val tk = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).as("n_tokens"))
    val w = Window.partitionBy("source").orderBy(col("n_tokens"), col("doc_id"))
    val whole = Window.partitionBy("source")
    val ranked = tk
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(whole))
    val aggs = ps.map { p =>
      max(when(col("rn") === ceil(lit(p) * col("n")), col("n_tokens")))
        .cast("long").as(s"p${(p * 100).round}")
    }
    ranked.groupBy("source").agg(aggs.head, aggs.tail: _*)
  }

  /** Exact running `n_tokens` sum within each source in
    * (`order` DESC, doc_id ASC) order — WITHOUT ever windowing on `source`
    * alone, so no single task sorts a whole source (a training corpus has
    * few, enormous sources; one-task-per-source is the 100 TB killer the
    * round-4 audit flagged). The q81/q86 histogram pattern applied to
    * cumulative packing:
    *
    *  1. rows bucket by `bucket`, a coarse monotone image of the order key
    *     (all of bucket k+1 strictly precedes all of bucket k in the DESC
    *     order, ties land in one bucket);
    *  2. per-(source, bucket) token totals — bounded by
    *     #sources × #buckets rows, NOT corpus-sized — turn into
    *     earlier-bucket offsets via a tiny self-join (deliberately not a
    *     per-source window, so the "no window on source alone" invariant
    *     is assertable plan-wide);
    *  3. the within-bucket running sum windows on (source, bucket) — each
    *     task sorts one bucket of one source;
    *  4. cum = broadcast offset + within-bucket running sum. Identical to
    *     the single-window formulation on any input.
    */
  private def runningTokensSharded(
      base: DataFrame, bucket: Column, order: Column): DataFrame = {
    val b = base.withColumn("ob", bucket)
    val bt = b.groupBy("source", "ob").agg(sum("n_tokens").as("bt"))
    val off = bt.as("a")
      .join(bt.as("b"),
        col("a.source") === col("b.source") && col("b.ob") > col("a.ob"),
        "left")
      .groupBy(col("a.source").as("source"), col("a.ob").as("ob"))
      .agg(coalesce(sum(col("b.bt")), lit(0L)).as("cum_off"))
    val w = Window.partitionBy("source", "ob")
      .orderBy(order.desc, col("doc_id").asc)
    // the offset table is structurally bounded (#sources × #buckets), so a
    // forced broadcast is safe per the repo's broadcast-hint rule
    b.join(broadcast(off), Seq("source", "ob"))
      .withColumn("cum", col("cum_off") + sum("n_tokens").over(w))
      .drop("ob", "cum_off")
  }

  /** Deterministic sequence packing: documents assigned to fixed
    * `binTokens`-token training bins by running token offset within each
    * source, longest-first (n_tokens desc, doc_id tiebreak) for tight
    * packing. Emits per-(source, bin) packing evidence.
    *
    * Scale shape: the running offset is [[runningTokensSharded]] over
    * 16-token-wide length buckets (clamped at 4096 buckets so the offset
    * table stays bounded under pathological doc lengths) — no task ever
    * sorts a whole source.
    */
  def sequencePacking(docs: DataFrame, binTokens: Long): DataFrame = {
    val base = docs.withColumn("n_tokens",
      when(length(trim(col("text"))) === 0, 0L)
        .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")))
    runningTokensSharded(base,
        least(expr("n_tokens div 16"), lit(4096L)), col("n_tokens"))
      .withColumn("bin_id", expr(s"(cum - n_tokens) div $binTokens"))
      .groupBy("source", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
  }

  /** Token-budget-constrained selection: per source, documents are ranked
    * by quality (alpha ratio — the q22 signal — descending, doc_id
    * tiebreak) and kept greedily while the running token total stays
    * within `budget`. Emits the per-source selection evidence (docs kept,
    * tokens kept, the worst admitted quality). The quality key is a single
    * division (engine-exact) and the running total is an integer
    * cumulative sum — nothing order-ambiguous anywhere.
    *
    * Scale shape: one row-local quality/token projection, then
    * [[runningTokensSharded]] over 1/256-wide quality buckets (quality ∈
    * [0, 1], so ≤ 257 buckets/source) — no task ever sorts a whole
    * source — then a per-source aggregate.
    */
  def tokenBudgetSelect(docs: DataFrame, budget: Long): DataFrame = {
    val toks = tokens(col("text"))
    val base = docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("quality",
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double")
          / length(col("text")))
    runningTokensSharded(base,
        floor(col("quality") * 256).cast("int"), col("quality"))
      .withColumnRenamed("cum", "cum_tokens")
      .filter(col("cum_tokens") <= budget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        max("cum_tokens").as("tokens_kept"),
        min("quality").as("worst_quality"))
  }

  /** Per-source corpus profile — the "dataset card" rollup every release
    * pipeline emits: document/token/char totals, exact mean length (one
    * division over exact integer sums), language mix cardinality, and the
    * exact-duplicate rate from distinct content hashes. The two distinct
    * counts run as separate distinct→count sub-aggregates joined back on
    * the (tiny) source key: mixing them into one agg would plan an Expand
    * that triples every input row pre-shuffle (this repo's measured trap),
    * while each sub-aggregate partial-distincts map-side.
    */
  def corpusProfile(docs: DataFrame): DataFrame = {
    val totals = docs
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum("n_chars").as("sum_chars"))
    val langs = docs.select("source", "lang").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_langs"))
    val uniq = docs.select(col("source"), md5(col("text")).as("h")).distinct()
      .groupBy("source").agg(count(lit(1)).as("n_distinct_texts"))
    totals.join(langs, Seq("source")).join(uniq, Seq("source"))
      .select(col("source"), col("n_docs"), col("sum_tokens"), col("sum_chars"),
        (col("sum_tokens").cast("double") / col("n_docs")).as("mean_tokens"),
        col("n_langs"),
        ((col("n_docs") - col("n_distinct_texts")).cast("double") /
          col("n_docs")).as("dup_rate"))
  }

  /** Non-overlapping `width`-token chunks of a token array as (idx, text)
    * structs — one JIT pass (the HOF slice-per-chunk formulation evaluates
    * interpreted, repo-wide pattern).
    */
  private def chunkUdf(w: Int) = udf { (toks: Seq[String]) =>
    if (toks == null || toks.isEmpty) Array.empty[(Int, String)]
    else {
      val arr = toks.toArray
      val out = new Array[(Int, String)]((arr.length - 1) / w + 1)
      var i = 0
      while (i * w < arr.length) {
        val sb = new java.lang.StringBuilder
        var j = i * w
        val e = math.min(j + w, arr.length)
        while (j < e) { if (j > i * w) sb.append(' '); sb.append(arr(j)); j += 1 }
        out(i) = (i, sb.toString); i += 1
      }
      out
    }
  }

  /** Sub-document (paragraph-style) dedup: documents split into
    * non-overlapping `width`-token chunks; each distinct chunk text
    * survives only at its FIRST occurrence (lowest (doc_id, idx)); each
    * document is rebuilt from its surviving chunks in order. Emits per-doc
    * evidence: chunk counts before/after, surviving token count, and an
    * md5 fingerprint of the rebuilt text. Documents whose every chunk was
    * seen earlier disappear — the boilerplate-stripping behavior the
    * C4-style pipelines want.
    *
    * Scale shape: chunking is row-local; the first-occurrence pick is a
    * window partitioned by chunk hash (hash-parallel); the rebuild
    * re-aggregates by doc_id with an order-insensitive collect fixed by
    * array_sort — three keyed shuffles total, none corpus-quadratic.
    */
  def chunkDedup(docs: DataFrame, width: Int): DataFrame = {
    val base = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) > 0)
    val chunks = base
      .select(col("doc_id"), explode(chunkUdf(width)(col("toks"))).as("c"))
      .select(col("doc_id"), col("c._1").as("idx"), col("c._2").as("ctext"))
    val perDoc = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val w = Window.partitionBy(md5(col("ctext")))
      .orderBy(col("doc_id").asc, col("idx").asc)
    val kept = chunks.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        sum(size(split(col("ctext"), " ")).cast("long")).as("kept_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("ctext")))),
            x => x.getField("ctext")), " ")).as("fp"))
      .join(perDoc, Seq("doc_id"))
      .select("doc_id", "n_chunks", "n_kept", "kept_tokens", "fp")
  }

  /** Bigram language-model scoring — the classic perplexity-filter quality
    * signal: train add-one-smoothed bigram probabilities on the corpus
    * itself, then score every document's average negative log-likelihood
    * `mean(-ln((c(w1,w2)+1)/(c(w1)+V)))` over its bigram occurrences
    * (low = fluent under the corpus LM, high = outlier).
    *
    * Cross-engine determinism: a per-doc SUM of ln values would be
    * order-dependent IEEE addition. Instead each bigram's nll is rounded to
    * 6 places and scaled to integer MICRO-NATS (`round(round(ln,6)·10⁶)` is
    * exactly the integer k both engines round to, since round-6 lands within
    * ulps of k/10⁶) — the per-doc sum is then exact long arithmetic in any
    * order, and only the final division is float. −ln p = ln((c1+V)/(c2+1))
    * ≥ 0 because c2 ≤ c1 and V ≥ 1, so no −0.0 can appear.
    *
    * Scale shape: per-doc bigram counts (one keyed shuffle, map-side
    * combined), the LM tables derived from THEM (c2 by bigram, c1 by left
    * word — partials of partials, never re-reading the corpus), a scalar
    * vocab-size broadcast, and the score join keyed by bigram — the LM
    * table is vocabulary²-bounded, not corpus-bounded, and AQE picks the
    * join side. Nothing is ever globally sorted.
    */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val base = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .withColumn("bgs", allNgrams("toks", 2))
    val docBg = base.select(col("doc_id"), explode(col("bgs")).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("occ"))
    val lm2 = docBg.groupBy("bg").agg(sum("occ").as("c2"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val lm1 = lm2.groupBy("w1").agg(sum("c2").as("c1"))
    val v = base.select(explode(col("toks")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val microNll = round(round(
      log((col("c1") + col("v")).cast("double") / (col("c2") + 1L).cast("double")),
      6) * 1e6, 0).cast("long")
    docBg.join(lm2, Seq("bg"))
      .join(lm1, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("micro", microNll)
      .groupBy("doc_id")
      .agg(sum("occ").as("n_bigrams"),
        sum(col("occ") * col("micro")).as("micro_nll"))
      .select(col("doc_id"), col("n_bigrams"), col("micro_nll"),
        round(col("micro_nll").cast("double") / col("n_bigrams").cast("double")
          / 1e6, 6).as("avg_nll"))
  }

  /** DSIR importance weights (Xie et al., NeurIPS'23 "Data Selection for
    * Language Models via Importance Resampling"): per doc, the
    * log-importance weight log p_target(x) − log p_raw(x) under two
    * add-one-smoothed HASHED-BIGRAM bag models — the target LM fit on the
    * `targetLang` slice, the raw LM on the whole corpus. Positive weight =
    * the doc looks more like the target distribution than the corpus at
    * large; resampling by these weights is the paper's curation step (the
    * q140 weighted sampler consumes exactly such weights). Features are
    * Java-hash buckets of word bigrams (`buckets` a power of two so the
    * `& (buckets-1)` mask mirrors the oracle's unsigned `% buckets`).
    *
    * Scale shape: bigram→bucket is row-local (codegen hash, no UDF
    * dictionary); both LMs are bucket-keyed counts (map-side combined)
    * collapsing to ≤ `buckets` rows, joined to docs via ONE broadcast of
    * the bucket→micro table; totals ride a broadcast 1-row cross join.
    * Per-feature micro-rounding (round(ln…,6)·10⁶) makes the sum exact in
    * any engine. No window, no collect, no corpus-sized shuffle beyond
    * the (doc, bucket) aggregate.
    */
  /** Hashed-bigram feature rows (doc_id, lang, f) — the shared front end
    * of the DSIR LM build and the scoring pass.
    */
  private def dsirFeatures(docs: DataFrame, buckets: Int): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(allNgrams("toks", 2)).as("bg"))
      .select(col("doc_id"), col("lang"),
        graft.functions.JavaHashExpr.of(col("bg"))
          .bitwiseAND(lit(buckets - 1)).cast("int").as("f"))
  }

  /** The DSIR LM state: per hashed-bigram bucket, raw (`cr`, every doc)
    * and target (`ct`, `targetLang` docs) occurrence counts. Counts only
    * ever add, so this exact aggregation also runs as a STREAMING
    * aggregation over document appends with state bounded at `buckets`
    * rows (EventStream.dsirLmStream) — the incremental LM equals this
    * batch build on any prefix.
    */
  def dsirLm(docs: DataFrame, targetLang: String, buckets: Int): DataFrame =
    dsirFeatures(docs, buckets)
      .select(col("f"),
        when(col("lang") === targetLang, 1L).otherwise(0L).as("t"))
      .groupBy("f").agg(count(lit(1)).as("cr"), sum("t").as("ct"))

  /** Score `docs` against an LM table `lm(f, cr, ct)` (from [[dsirLm]] or
    * its streaming twin's snapshot). The LM must cover every bucket the
    * scored docs hash into — true by construction when the LM was built
    * over a superset of `docs` (the inner bucket join keeps the plan
    * broadcast-only; a serving path scoring unseen text should rebuild
    * the LM over the union first). EVERY doc gets a row: a doc with no
    * bigram features (< 2 tokens) carries the neutral weight 0 with
    * n_feats 0 — an importance resampler joining weights onto the corpus
    * must not silently drop it.
    */
  def dsirScoreAgainst(docs: DataFrame, lm: DataFrame, buckets: Int): DataFrame = {
    val tot = lm.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    val lmw = broadcast(lm.crossJoin(broadcast(tot))
      .select(col("f"), expr(s"""CAST(round(round(
        ln((ct + 1.0) / (nt + $buckets.0)) - ln((cr + 1.0) / (nr + $buckets.0)),
        6) * 1000000.0, 0) AS BIGINT)""").as("micro")))
    val scored = dsirFeatures(docs, buckets)
      .groupBy("doc_id", "lang", "f").agg(count(lit(1)).as("occ"))
      .join(lmw, Seq("f"))
      .groupBy("doc_id", "lang")
      .agg(sum("occ").as("n_feats"),
        sum(col("occ") * col("micro")).as("micro_logweight"))
    docs.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("micro_logweight"), lit(0L)).as("micro_logweight"))
  }

  def dsirWeights(docs: DataFrame, targetLang: String, buckets: Int): DataFrame =
    dsirScoreAgainst(docs, dsirLm(docs, targetLang, buckets), buckets)

  /** DSIR HASH-COLLISION AUDIT — the q167 estimator's published evidence
    * (q139/q149/q151/q156/q157 give every other estimator/index one):
    * feature hashing collides bigrams into buckets and biases the LM
    * log-ratio; this audit scores every featured doc under each hashed
    * arm AND under the EXACT unhashed-bigram LM (feature = the bigram
    * string), then reports per arm the mean |weight difference| and the
    * sign-agreement count — how many docs the hashed weight still points
    * the same way for. EVERY arm (hashed and exact) smooths with the SAME
    * denominator B = the exact distinct-bigram count, so the arms differ
    * ONLY by collisions — the first cut of this audit smoothed each arm
    * by its own bucket count and the 4096 row measured WORSE than 512
    * (6.45M vs 1.26M mean |diff| micro at sf0.01): the smoothing-prior
    * mismatch dominated the collision signal it was meant to isolate.
    * With B fixed, a collision-free arm is bit-identical to exact (diff
    * 0) and more buckets → fewer collisions → smaller diff.
    *
    * Scale shape: ONE persisted bigram explode feeds the exact arm and
    * every hashed arm; each arm is the q167 pipeline (bucket-keyed LM,
    * per-doc sum). The exact arm's LM is vocabulary²-bounded, not
    * config-bounded — it is the audit's run-once cost, exactly as q149's
    * brute arm is for IVF. Docs with no bigram features are outside every
    * arm (the audit compares scores, not coverage).
    */
  def dsirHashAudit(docs: DataFrame, targetLang: String,
      arms: Seq[Int]): DataFrame = {
    require(arms.nonEmpty, "need at least one bucket-count arm")
    arms.foreach(b => require(b >= 2 && (b & (b - 1)) == 0,
      s"buckets must be powers of two, got $b"))
    // persisted: the explode feeds the exact arm AND every hashed arm;
    // structural lifecycle (round 9) — the audit output is |arms| rows,
    // so withPersisted checkpoints it and drops the explode's cache entry
    val bgs = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(allNgrams("toks", 2)).as("bg"))
    // exactLm rides the persist list too (round 12): the totals collect
    // (t0) and the exact arm's scoring join both read it — unpersisted,
    // the vocabulary²-row aggregation ran twice per audit
    val exactLm = bgs
      .select(col("bg").as("f"),
        when(col("lang") === targetLang, 1L).otherwise(0L).as("t"))
      .groupBy("f").agg(count(lit(1)).as("cr"), sum("t").as("ct"))
    graft.core.Lifecycle.withPersisted(bgs, exactLm) {
    // shared totals: nr/nt are occurrence counts (hash-invariant) and bex
    // is the exact distinct-bigram count — the ONE smoothing denominator
    // every arm uses, so arms differ only by collisions. COLLECTED once
    // (a bounded 1-row driver read, the q117-dispatch class) and inlined
    // as literals so the vocabulary²-sized totals subtree is not
    // re-embedded in all 1 + |arms| arm plans.
    val t0 = exactLm.agg(coalesce(sum("cr"), lit(0L)),
      coalesce(sum("ct"), lit(0L)), count(lit(1))).collect()(0)
    val (nr, nt, bex) = (t0.getLong(0), t0.getLong(1), t0.getLong(2))
    val microExpr = s"""CAST(round(round(
      ln((ct + 1.0) / ($nt + CAST($bex AS DOUBLE)))
      - ln((cr + 1.0) / ($nr + CAST($bex AS DOUBLE))),
      6) * 1000000.0, 0) AS BIGINT)"""
    // score one arm given its feature rows and its LM; hashed arms'
    // bucket-bounded LMs get the q167 broadcast hint, the vocab²-sized
    // exact LM must not
    def score(base: DataFrame, lm: DataFrame, bcastLm: Boolean): DataFrame = {
      val lmw0 = lm.select(col("f"), expr(microExpr).as("micro"))
      val lmw = if (bcastLm) broadcast(lmw0) else lmw0
      base.groupBy("doc_id", "f").agg(count(lit(1)).as("occ"))
        .join(lmw, Seq("f"))
        .groupBy("doc_id").agg(sum(expr("occ * micro")).as("w"))
    }
    val exact = score(bgs.select(col("doc_id"), col("bg").as("f")),
      exactLm, bcastLm = false).select(col("doc_id"), col("w").as("wx"))
    arms.map { b =>
      val base = bgs.select(col("doc_id"), col("lang"),
        graft.functions.JavaHashExpr.of(col("bg"))
          .bitwiseAND(lit(b - 1)).cast("int").as("f"))
      val lm = base
        .select(col("f"),
          when(col("lang") === targetLang, 1L).otherwise(0L).as("t"))
        .groupBy("f").agg(count(lit(1)).as("cr"), sum("t").as("ct"))
      score(base.select("doc_id", "f"), lm, bcastLm = true)
        .join(exact, Seq("doc_id"))
        .select(lit(b).as("buckets"), col("w"), col("wx"))
    }.reduce(_ unionByName _)
      .groupBy("buckets")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(abs(w - wx)) div count(1)").as("mean_abs_diff_micro"),
        sum(expr("""CASE WHEN (CASE WHEN w > 0 THEN 1 WHEN w < 0 THEN -1
          ELSE 0 END) = (CASE WHEN wx > 0 THEN 1 WHEN wx < 0 THEN -1
          ELSE 0 END) THEN 1 ELSE 0 END""")).cast("long").as("n_sign_agree"))
    }
  }

  /** Gopher-style quality RULE CARD (Rae et al. 2021, Appendix A —
    * MassiveText filtering): the named pass/fail rules a curation team
    * reads, not raw signals (q22 publishes those). Per source: document
    * count, per-rule fail counts, and the keep rate under the conjunction —
    * the report that says WHICH rule is responsible for each source's
    * attrition. Rules (integer micro thresholds, conjunctive keep):
    *   word_count     — token count in [minWords, maxWords]
    *   mean_word_len  — mean token length in [3, 10] chars
    *   stopwords      — ≥ 2 distinct of {the, a, of, and, to, with}
    *   top_bigram     — most frequent bigram ≤ 10% of bigram occurrences
    *                    (Gopher's top-2-gram duplication rule, count form;
    *                    a bigram seen ONCE is not duplication, so the rule
    *                    never fires at max_bg ≤ 1 — short all-distinct
    *                    docs would otherwise fail on 1/n > 10% alone)
    *   alpha_words    — ≥ 80% of tokens contain an alphabetic character
    *
    * Scale shape: ENTIRELY row-local per doc — four rules are token-array
    * HOFs and the bigram rule's per-doc max is a sorted-run fold over the
    * doc's own bigram array (equal bigrams are adjacent after array_sort,
    * so the longest run IS the max count; no doc-keyed exchange at all) —
    * followed by ONE source-keyed sum. A single aggregation means the
    * card also runs verbatim as a STREAMING aggregation
    * (EventStream.gopherCardStream, batch-equal by construction).
    */
  def gopherQualityCard(docs: DataFrame, minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val base = docs.withColumn("toks", tokens(col("text")))
    val perDoc = base
      .withColumn("bgs", allNgrams("toks", 2))
      .select(col("doc_id"), col("source"),
      size(col("toks")).cast("long").as("n_tokens"),
      expr("aggregate(toks, CAST(0 AS BIGINT), (a, t) -> a + length(t))")
        .as("sum_chars"),
      expr("""size(array_distinct(filter(toks,
        t -> t IN ('the','a','of','and','to','with'))))""").cast("long")
        .as("n_stop"),
      expr("size(filter(toks, t -> t rlike '[A-Za-z]'))").cast("long")
        .as("n_alpha"),
      when(size(col("bgs")) === 0, lit(null).cast("long"))
        .otherwise(size(col("bgs")).cast("long")).as("n_bg"),
      expr("""aggregate(array_sort(bgs),
        named_struct('prev', CAST(NULL AS STRING),
          'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
        (st, b) -> CASE WHEN st.prev IS NOT NULL AND b = st.prev
          THEN named_struct('prev', b, 'run', st.run + 1,
            'best', greatest(st.best, st.run + 1))
          ELSE named_struct('prev', b, 'run', CAST(1 AS BIGINT),
            'best', greatest(st.best, CAST(1 AS BIGINT))) END,
        st -> st.best)""").as("max_bg"))
    val flags = perDoc
      .select(col("source"),
        when(col("n_tokens") < minWords || col("n_tokens") > maxWords, 1L)
          .otherwise(0L).as("f_wc"),
        expr("""CASE WHEN n_tokens = 0 THEN 1
          WHEN sum_chars * 1000000 div n_tokens < 3000000
            OR sum_chars * 1000000 div n_tokens > 10000000 THEN 1
          ELSE 0 END""").cast("long").as("f_mwl"),
        when(col("n_stop") < 2, 1L).otherwise(0L).as("f_sw"),
        expr("""CASE WHEN n_bg IS NULL OR max_bg <= 1 THEN 0
          WHEN max_bg * 1000000 div n_bg > 100000 THEN 1
          ELSE 0 END""").cast("long").as("f_bg"),
        expr("""CASE WHEN n_tokens = 0 THEN 1
          WHEN n_alpha * 1000000 div n_tokens < 800000 THEN 1
          ELSE 0 END""").cast("long").as("f_aw"))
    flags.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("f_wc").as("n_fail_word_count"),
        sum("f_mwl").as("n_fail_mean_word_len"),
        sum("f_sw").as("n_fail_stopwords"),
        sum("f_bg").as("n_fail_top_bigram"),
        sum("f_aw").as("n_fail_alpha_words"),
        sum(when(col("f_wc") + col("f_mwl") + col("f_sw") + col("f_bg")
          + col("f_aw") === 0L, 1L).otherwise(0L)).as("n_keep"))
      .withColumn("keep_micro", expr("n_keep * 1000000 div n_docs"))
  }

  /** N-gram DIVERSITY CARD: per n ∈ [1, maxN], the corpus-wide occurrence
    * and distinct counts, the type-token ratio, and the Shannon entropy of
    * the n-gram distribution (nano-units; per-gram term
    * −(c/N)·ln(c/N) rounded at 9 decimals so the sum is engine-exact) —
    * the information-theoretic summary behind memorization-risk and
    * diversity reporting (a low-entropy, low-TTR corpus is template-heavy
    * and memorizes; the n-slope says at which phrase length repetition
    * sets in). The 9-decimal term rounding is the sandbox-scale oracle
    * compromise; at corpus scale serve raw doubles (terms shrink as
    * (ln N)/N and a fixed decimal floor would zero them).
    *
    * Scale shape: one gram-keyed count per n (map-side combined), a 5-row
    * totals broadcast, and a 5-group final sum. Output is `maxN` rows.
    */
  def ngramDiversityCard(docs: DataFrame, maxN: Int): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"need 1 <= maxN <= 8, got $maxN")
    // ONE scan + tokenize: all maxN gram levels fan out row-locally from
    // the same token array (a per-n union would re-scan the text column
    // maxN times — real money at corpus scale)
    val grams = docs.withColumn("toks", tokens(col("text")))
      .select(posexplode(array((1 to maxN).map(n => allNgrams("toks", n)): _*))
        .as(Seq("i", "gs")))
      .select((col("i") + 1).as("n"), explode(col("gs")).as("g"))
    val c = grams.groupBy("n", "g").agg(count(lit(1)).as("c"))
    val t = c.groupBy("n")
      .agg(sum("c").as("tot"), count(lit(1)).as("d"))
    c.join(broadcast(t), Seq("n"))
      .groupBy(col("n"), col("tot").as("n_occurrences"), col("d").as("n_distinct"))
      .agg(sum(expr("""CAST(round(round(-(c / tot) * ln(c / tot), 9)
          * 1000000000.0, 0) AS BIGINT)""")).as("entropy_nano"))
      .select(col("n"), col("n_occurrences"), col("n_distinct"),
        expr("n_distinct * 1000000 div n_occurrences").as("ttr_micro"),
        col("entropy_nano"))
  }

  /** PII patterns shared by the scrub and the report. Written to the
    * RE2 ∩ Java-regex common subset (no lookaround, no backrefs) so the
    * Spark executor and any RE2-based engine (the oracle included) agree
    * match-for-match.
    */
  private[graft] val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiIpv4 =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private[graft] val PiiPhone = "\\+[0-9]{7,15}|[0-9]{3}-[0-9]{3,4}-[0-9]{4}"

  /** PII SCRUB — the redaction pass every production corpus runs before
    * training: per doc, match counts for email / IPv4 / phone patterns
    * (counted on the ORIGINAL text, independently — a token that matches
    * two patterns counts in both) and the scrubbed text with each match
    * replaced by a typed placeholder, replacements applied
    * email → ip → phone so an address consumed by the email rule cannot
    * re-match as a phone. Entirely row-local (regexp_count /
    * regexp_replace are codegen'd) — the ideal 100 TB shape.
    */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      regexp_count(col("text"), lit(PiiEmail)).cast("long").as("n_email"),
      regexp_count(col("text"), lit(PiiIpv4)).cast("long").as("n_ipv4"),
      regexp_count(col("text"), lit(PiiPhone)).cast("long").as("n_phone"),
      length(col("text")).cast("long").as("n_chars_in"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        PiiEmail, "<EMAIL>"), PiiIpv4, "<IP>"), PiiPhone, "<PHONE>")
        .as("clean_text"))

  /** Per-source PII report off [[piiScrub]]: doc and match counts plus the
    * scrubbed character delta — the evidence a curation run publishes
    * (which sources leak identifiers, how much text redaction touches).
    */
  def piiReport(docs: DataFrame): DataFrame =
    piiScrub(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_email") + col("n_ipv4") + col("n_phone") > 0, 1L)
          .otherwise(0L)).as("docs_with_pii"),
        sum("n_email").as("n_email"),
        sum("n_ipv4").as("n_ipv4"),
        sum("n_phone").as("n_phone"),
        sum("n_chars_in").as("n_chars_in"),
        sum(length(col("clean_text")).cast("long")).as("n_chars_out"))

  /** VOCABULARY-GROWTH CURVE (Heaps' law audit): cumulative distinct
    * vocabulary vs cumulative token occurrences over 10 doc-id-decile
    * corpus prefixes — the diagnostic that says whether new data still
    * brings new language (a flattening curve means the next 10 TB adds
    * tokens but no vocabulary — diminishing diversity returns). Each
    * token's contribution to the curve is its FIRST-appearance decile, so
    * the whole curve costs one token-keyed min — never one scan per
    * prefix point.
    *
    * Scale shape: ONE scan+tokenize of the text column (the exploded
    * token frame feeds BOTH the token→first-doc min and the per-decile
    * occurrence count — a second branch off the tokenized frame would
    * re-scan and re-tokenize the corpus); doc counts come from a
    * doc_id-only column-pruned scan. Everything collapses to 10-row
    * decile histograms; the cumulative step is a 10×10 triangular
    * self-join of those (broadcast, bounded — NOT a window, which the
    * suite-wide guard bans unpartitioned). The max-doc-id scalar rides a
    * broadcast 1-row join (the q126 shape).
    */
  def vocabGrowthCurve(docs: DataFrame): DataFrame = {
    val mx = docs.agg(max("doc_id").as("mxid"))
    // decile of a doc id in [0, 9]; mxid+1 keeps the last doc in decile 9.
    // INTEGER div on both sides (Spark `/` is double division and CAST
    // truncates where DuckDB's rounds — the repo-wide floor-boundary trap)
    def decile(name: String): Column =
      expr(s"CAST($name * 10 div (mxid + 1) AS INT)")
    // one corpus-sized token explode, persisted for its two keyed
    // aggregations (first-appearance min + per-decile occurrence count);
    // structural lifecycle (round 9): the curve is 10 rows, so
    // withPersisted checkpoints it and drops the explode's cache entry
    val ex = docs.withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode(col("toks")).as("w"))
    graft.core.Lifecycle.withPersisted(ex) {
    val firstDec = ex
      .groupBy("w").agg(min("doc_id").as("fd"))
      .crossJoin(broadcast(mx))
      .groupBy(decile("fd").as("decile"))
      .agg(count(lit(1)).as("new_vocab"))
    // occurrences per decile from the SAME exploded frame; doc counts
    // (which must include zero-token docs) from a doc_id-pruned scan
    val occ = ex.crossJoin(broadcast(mx))
      .groupBy(decile("doc_id").as("decile"))
      .agg(count(lit(1)).as("n_occ"))
    val occDec = docs.select("doc_id").crossJoin(broadcast(mx))
      .groupBy(decile("doc_id").as("decile"))
      .agg(count(lit(1)).as("n_docs"))
      .join(occ, Seq("decile"), "left")
      .select(col("decile"), col("n_docs"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"))
    occDec.as("a")
      .join(occDec.select(col("decile").as("d2"), col("n_docs").as("nd2"),
        col("n_occ").as("no2")).as("b"), col("d2") <= col("decile"))
      .groupBy(col("decile"))
      .agg(sum("nd2").as("cum_docs"), sum("no2").as("cum_tokens"))
      .join(firstDec.select(col("decile").as("d3"), col("new_vocab")).as("c"),
        col("d3") <= col("decile"), "left")
      .groupBy("decile", "cum_docs", "cum_tokens")
      .agg(coalesce(sum("new_vocab"), lit(0L)).as("cum_vocab"))
    }
  }

  /** ZIPF RANK-FREQUENCY AUDIT: least-squares slope/intercept/r² of
    * ln(freq) on ln(rank) over the top-`k` corpus terms — natural language
    * sits near slope −1 (Zipf's law); a much flatter slope is the
    * machine-generated / template signature, much steeper means a few
    * tokens dominate (boilerplate). Rank ties break by term ascending, and
    * ranking is a bounded k×k order-count join over the TakeOrdered
    * result — NOT a global rank window (suite-wide ban). The regression
    * rides regr_slope/intercept/r2 rounded at 6 decimals, the q55
    * float-absorption convention.
    *
    * Scale shape: one term-keyed count (map-side combined), TakeOrdered
    * top-k (no global sort), then everything is k-bounded.
    */
  def zipfSlope(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 3, s"need k >= 3 for a meaningful fit, got $k")
    val tf = docs.withColumn("toks", tokens(col("text")))
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val top = tf.orderBy(col("c").desc, col("w").asc).limit(k)
    val rk = top.as("a")
      .join(top.select(col("w").as("w2"), col("c").as("c2")).as("b"),
        col("c2") > col("c") ||
          (col("c2") === col("c") && col("w2") < col("w")), "left")
      .groupBy("w", "c").agg((count(col("w2")) + 1L).as("rnk"))
    rk.agg(count(lit(1)).as("k"),
      expr("round(regr_slope(ln(c), ln(rnk)), 6) + 0.0").as("slope"),
      expr("round(regr_intercept(ln(c), ln(rnk)), 6) + 0.0").as("intercept"),
      expr("round(regr_r2(ln(c), ln(rnk)), 6) + 0.0").as("r2"))
  }

  /** Adjacent code-point pairs of a word — one BPE pair-statistics pass.
    * Code points (not chars) so the DuckDB mirror's character-based
    * substr agrees on any Unicode input.
    */
  private val charPairsUdf = udf { (w: String) =>
    val cps = if (w == null) Array.empty[Int] else w.codePoints().toArray
    if (cps.length < 2) Array.empty[String]
    else {
      val out = new Array[String](cps.length - 1)
      var i = 0
      while (i < cps.length - 1) { out(i) = new String(cps, i, 2); i += 1 }
      out
    }
  }

  /** BPE tokenizer-training statistics: the top-`k` adjacent symbol pairs
    * by corpus frequency — exactly the quantity one BPE merge step
    * maximizes. Pair counts are weighted by word frequency (count words
    * once, then weight — the standard vocabulary-driven formulation that
    * makes the pass O(|vocab|·word_len), not O(corpus)).
    *
    * Scale shape: one keyed word-count aggregate over the exploded tokens
    * (map-side combined), a VOCABULARY-sized pair explode (the corpus never
    * re-enters), a pair-keyed aggregate bounded by |symbol-pairs|, and an
    * order-by-limit top-k (TakeOrdered — no global sort). Deterministic
    * total order: count desc, pair asc.
    */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame = {
    val wf = docs.withColumn("toks", tokens(col("text")))
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    wf.select(explode(charPairsUdf(col("w"))).as("pair"), col("freq"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc).limit(k)
  }

  /** Directional skip-gram pairs "left right" within `window` positions —
    * the word2vec-style co-occurrence context, one JIT pass per doc.
    */
  private def skipPairsUdf(window: Int) = udf { (toks: Seq[String]) =>
    if (toks == null || toks.length < 2) Array.empty[String]
    else {
      val arr = toks.toArray
      val out = new scala.collection.mutable.ArrayBuffer[String](arr.length * window)
      var i = 0
      while (i < arr.length - 1) {
        var d = 1
        while (d <= window && i + d < arr.length) {
          out += (arr(i) + " " + arr(i + d)); d += 1
        }
        i += 1
      }
      out.toArray
    }
  }

  /** Pointwise mutual information over skip-gram co-occurrence (window
    * `window`, directional pairs): the embedding-training corpus statistic
    * `pmi(a,b) = ln((c_ab/P) / ((c_a/n)(c_b/n)))`, emitted for the top-`k`
    * pairs by count (count desc, pair asc — deterministic).
    *
    * Cross-engine determinism: all counts are exact longs; the PMI is ONE
    * ln over ONE token-for-token-mirrored double expression, rounded to 6
    * places (the repo's proven-portable ln treatment). Products run in
    * doubles, so no 64-bit overflow exists at any corpus size.
    *
    * Scale shape: two keyed aggregations (pair counts, word counts), both
    * partially aggregated map-side over row-local explodes; the two corpus
    * scalars ride one broadcast 1-row crossJoin; the word-count joins are
    * keyed by the pair's endpoint words (vocabulary-sized, AQE picks the
    * side); top-k is order-by-limit (TakeOrdered). The corpus shuffles
    * pair/word keys only — never documents.
    */
  def pmiPairs(docs: DataFrame, window: Int, k: Int): DataFrame = {
    val base = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
    val pairCnt = base.select(explode(skipPairsUdf(window)(col("toks"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("c_ab"))
    val wordCnt = base.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val tot = pairCnt.agg(sum("c_ab").as("p_tot"))
      .crossJoin(wordCnt.agg(sum("c_w").as("n_tok")))
    val top = pairCnt
      .withColumn("wl", split(col("pair"), " ").getItem(0))
      .withColumn("wr", split(col("pair"), " ").getItem(1))
      .join(wordCnt.select(col("w").as("wl"), col("c_w").as("c_l")), Seq("wl"))
      .join(wordCnt.select(col("w").as("wr"), col("c_w").as("c_r")), Seq("wr"))
      .crossJoin(broadcast(tot))
    // + 0.0 normalizes IEEE −0.0 (a tiny negative PMI rounds to −0.0, which
    // engines render differently — the repo-wide rounded-output treatment)
    top.select(col("pair"), col("c_ab"), col("c_l"), col("c_r"),
      (round(log(col("c_ab").cast("double") * col("n_tok").cast("double")
        * col("n_tok").cast("double")
        / (col("p_tot").cast("double") * col("c_l").cast("double")
          * col("c_r").cast("double"))), 6) + lit(0.0)).as("pmi"))
      .orderBy(col("c_ab").desc, col("pair").asc).limit(k)
  }

  /** Boolean retrieval with phrase evidence: documents containing ALL
    * `must` tokens and NONE of `mustNot`, with the exact occurrence count
    * of a literal word `phrase` (word-boundary regex, Java∩RE2 subset).
    * The AND/NOT/phrase trio completes the retrieval surface next to the
    * ranked BM25 (q78).
    *
    * Scale shape: entirely row-local — the token-membership predicate and
    * the phrase count evaluate inside the scan's WholeStageCodegen with
    * NO shuffle at all; at 100 TB this is a pure scan-rate operator, and
    * the membership predicate sits where a token-index pushdown would
    * replace it.
    */
  def booleanRetrieve(docs: DataFrame, must: Seq[String], mustNot: Seq[String],
      phrase: String): DataFrame = {
    require(must.nonEmpty, "need at least one required token")
    val toks = tokens(col("text"))
    val pred = (must.map(t => array_contains(toks, t))
      ++ mustNot.map(t => !array_contains(toks, t))).reduce(_ && _)
    docs.filter(pred)
      .select(col("doc_id"), col("source"),
        regexp_count(col("text"), lit("\\b" + phrase + "\\b")).cast("long")
          .as("phrase_cnt"))
  }

  /** The same exact rank statistic as [[tokenQuantilesDisc]], computed the
    * way a source too large to sort in one task needs: aggregate a
    * (source, n_tokens) HISTOGRAM first (token counts are small ints, so
    * the histogram is value-domain-sized, not corpus-sized), then take the
    * p-quantile as the smallest value whose cumulative count reaches rank
    * ⌈p·n⌉. The per-source sort/window runs over histogram rows only —
    * every corpus-sized stage is a keyed aggregation with map-side combine.
    * Output is identical to the row-sorted formulation (same oracle).
    */
  def tokenQuantilesHist(docs: DataFrame, ps: Seq[Double]): DataFrame = {
    val hist = docs
      .select(col("source"), size(tokens(col("text"))).as("n_tokens"))
      .groupBy("source", "n_tokens").agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy("source").orderBy("n_tokens")
    val whole = Window.partitionBy("source")
    val ranked = hist
      .withColumn("hi", sum("c").over(cum))
      .withColumn("n", sum("c").over(whole))
    val aggs = ps.map { p =>
      min(when(col("hi") >= ceil(lit(p) * col("n")), col("n_tokens")))
        .cast("long").as(s"p${(p * 100).round}")
    }
    ranked.groupBy("source").agg(aggs.head, aggs.tail: _*)
  }

  /** Inverted-index build: term → document frequency + a delta-encoded
    * posting list of the first `k` doc ids (the on-disk block shape every
    * search index uses — BM25/boolean retrieval above SCAN the corpus;
    * this materializes the index they'd serve from).
    *
    * Scale shape: the posting prefix comes from the KMV bottom-k
    * aggregator ([[Sketch.KmvAgg]] fed raw doc ids — its bottom-k of
    * distinct values IS the smallest-k posting prefix), so per-term state
    * is bounded at k longs through map-side partial aggregation and NO
    * term's full posting list is ever collected or sorted — the classic
    * rank-window formulation sorts every posting list end-to-end, which at
    * 100 TB serializes the stopword terms' lists through single tasks.
    * df stays the full count. Delta encoding is a row-local transform over
    * the sorted k-array.
    */
  def invertedIndex(docs: DataFrame, minLen: Int = 4, minDf: Long = 2, k: Int = 16): DataFrame = {
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= minLen)
      .distinct()
      .groupBy("w")
      .agg(count(lit(1)).as("df"), Sketch.kmv(k)(col("doc_id")).as("ids"))
      .filter(col("df") >= minDf)
      .select(col("w"),
        col("df").cast("long").as("df"),
        concat_ws(",", expr(
          "transform(ids, (x, i) -> string(if(i = 0, x, x - element_at(ids, i))))"))
          .as("postings"))
  }

  /** Mined-gazetteer entity mentions (distant supervision): the entity
    * dictionary is the corpus's own top-`k` bigrams by document frequency
    * (deterministic (df desc, entity asc) tiebreak), and the output is the
    * per-(entity, source) mention matrix — occurrence and document counts.
    * This is the gazetteer-tagging pass an NER/curation pipeline runs to
    * weakly label spans: mine a bounded phrase dictionary, broadcast it,
    * tag the whole corpus in one scan.
    *
    * Scale shape: df comes from a two-level keyed aggregate (per-doc gram
    * counts → distinct-doc counts, no Expand); the dictionary is top-k —
    * bounded by `k` regardless of corpus size — and BROADCAST back, so the
    * tag pass is a map-side join over the bigram explode. No all-pairs
    * stage; the only corpus-wide exchanges are keyed aggregations with
    * map-side combine.
    */
  def gazetteerMentions(docs: DataFrame, k: Int): DataFrame = {
    val base = docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
    val docBg = base.select(col("doc_id"), col("source"),
      explode(allNgrams("toks", 2)).as("entity"))
    val perDocSrc = docBg.groupBy("entity", "source", "doc_id")
      .agg(count(lit(1)).as("occ"))
    val dict = perDocSrc.groupBy("entity").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("entity").asc).limit(k)
    perDocSrc.join(broadcast(dict), Seq("entity"))
      .groupBy("entity", "source")
      .agg(max("df").as("df"), sum("occ").as("n_mentions"),
        count(lit(1)).as("n_docs"))
      .select(col("entity"), col("source"), col("df"),
        col("n_mentions"), col("n_docs"))
  }

  /** Population-stability-index drift of each source's token-length
    * distribution against a `baseline` source, over q52's 16-token
    * buckets with add-one smoothing on the shared bucket set — the
    * distribution-shift monitor a continuously-ingesting corpus runs to
    * catch a source silently changing shape between snapshots
    * (PSI < 0.1 stable / > 0.25 shifted, in micro-nats here).
    *
    * Scale shape: the corpus collapses to a (source, bucket) histogram in
    * one keyed aggregate — everything after is arithmetic over a table
    * bounded by #sources × #buckets: the complete grid is an explicit
    * broadcast cross join of two BOUNDED frames (a constant-key hash-join
    * disguise constant-folds back to the same nested-loop plan), with the
    * two 1-row totals broadcast beside it.
    * Double discipline: p and q are exact-int divisions, ln is rounded to
    * 6 digits before the product, and each term becomes an integer
    * micro-nat before the sum — no order-dependent double accumulation.
    */
  def psiDrift(docs: DataFrame, baseline: String): DataFrame = {
    val counts = docs
      .withColumn("n_tokens", size(tokens(col("text"))))
      .select(col("source"), (expr("n_tokens div 16") * 16).cast("long").as("bucket"))
      .groupBy("source", "bucket").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("source").agg(sum("c").as("n"))
    val nb = counts.select("bucket").distinct().agg(count(lit(1)).as("nb"))
    val bucketTable = counts.select("bucket").distinct()
      .join(counts.filter(col("source") === baseline)
        .select(col("bucket"), col("c").as("c0")), Seq("bucket"), "left")
    val n0 = totals.filter(col("source") === baseline).select(col("n").as("n0"))
    val grid = totals.filter(col("source") =!= baseline)
      .crossJoin(broadcast(bucketTable))
      .join(counts, Seq("source", "bucket"), "left")
      .crossJoin(broadcast(nb))
      .crossJoin(broadcast(n0))
    val p = (coalesce(col("c"), lit(0L)).cast("double") + 1.0) /
      (col("n") + col("nb")).cast("double")
    val q = (coalesce(col("c0"), lit(0L)).cast("double") + 1.0) /
      (col("n0") + col("nb")).cast("double")
    val term = round((p - q) * round(log(p / q), 6) * 1e6, 0).cast("long")
    grid.withColumn("t", term)
      .groupBy("source")
      .agg(max("nb").as("n_buckets"), sum("t").as("psi_micro"))
  }

  /** Deterministic training-export shard manifest (the webdataset /
    * tar-shard publication step): docs assign to `nShards` shards by the
    * LCG id hash, and each shard's manifest row carries doc count, token
    * total, the id range, and an ORDER-INSENSITIVE content checksum (sum
    * of per-doc 31-poly text hashes mod 2³²) — what an export publishes so
    * a consumer can verify a shard set without re-reading it.
    *
    * Scale shape: one keyed aggregate; every manifest column is
    * commutative-mergeable so map-side combine applies, and the checksum's
    * order-insensitivity is exactly what makes it computable without
    * imposing any row order on the export. (The BIGINT hash sum stays
    * exact to 2³¹ docs per shard; past that a production manifest reduces
    * partials mod 2³² — same value, same algebra.)
    */
  /** Word2vec-style negative-sampling table: the top-`k` vocabulary words
    * with unigram^0.75 weights and their sampling probability — the
    * smoothed distribution contrastive/skip-gram training draws negatives
    * from (raising rare words, damping stopwords).
    *
    * Double discipline: pow(c, 0.75) quantizes to an integer micro-weight
    * PER WORD before any sum, so the normalizer Σw is exact long addition
    * (a double Σ pow would be order-dependent); prob = w·10⁶ div Σw is
    * integer arithmetic. Scale shape: one keyed count, one bounded top-k,
    * one broadcast 1-row normalizer.
    */
  def negativeSampling(docs: DataFrame, k: Int): DataFrame = {
    val wc = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .withColumn("w_micro",
        round(round(pow(col("c").cast("double"), 0.75), 6) * 1e6, 0).cast("long"))
    val tot = wc.agg(sum("w_micro").as("tot"))
    wc.crossJoin(broadcast(tot))
      .select(col("w"), col("c"), col("w_micro"),
        expr("w_micro * 1000000 div tot").as("prob_micro"))
      .orderBy(col("c").desc, col("w").asc).limit(k)
  }

  /** Answer-span extraction for QA/grounding training data: every token
    * position where the two-token `phrase` occurs, one row per match —
    * the span-labeling pass that turns a corpus plus an answer string
    * into (context, answer_start) training pairs. Entirely row-local (a
    * single HOF filter over the token array inside the scan); positions
    * are 0-based token offsets.
    */
  def spanPositions(docs: DataFrame, w1: String, w2: String): DataFrame =
    docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("source"),
        // Column-API lambda, not an interpolated SQL string: phrase words
        // are data, and a quote inside one must stay a literal, never
        // become expression text.
        explode(filter(sequence(lit(0), size(col("toks")) - 2),
          i => element_at(col("toks"), i + lit(1)) === lit(w1) &&
               element_at(col("toks"), i + lit(2)) === lit(w2)))
          .as("pos"))
      .select(col("doc_id"), col("source"), col("pos").cast("long").as("pos"))

  def exportShards(docs: DataFrame, nShards: Int): DataFrame = {
    docs
      .withColumn("shard", (lcg(col("doc_id")) % nShards).cast("int"))
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      // null text fingerprints as 0, not null: the checksum counts it
      .withColumn("fp", coalesce(Dedup.cpFold32(col("text")), lit(0L)))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"),
        (sum("fp") % 4294967296L).as("checksum"))
  }
}
