package graft.operators.dedup

import graft.functions.{GramKeyExpr, JavaHashExpr}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ExactSubstr (Lee et al., ACL 2022) on the 63-bit hashed-gram core —
  * window grams, duplicated spans/spectra, source profiles and flows, the
  * span CUT action, and the gram-hash collision audit. Family of
  * [[graft.operators.Dedup]] (round-11 split); self-contained.
  */
private[graft] trait DedupSubstr extends Serializable {

  /** Exact substring duplication spans (Lee et al., ACL 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * ExactSubstr): every fixed-length character window (length `L`; the
    * paper uses 50 BPE tokens over a suffix array) occurring at MORE THAN
    * ONE (doc, position) in the corpus marks its span duplicated. Per doc
    * this emits the duplicated-position count and the characters covered
    * by the UNION of the duplicated [pos, pos+L) intervals — the exact
    * span ExactSubstr would cut, and the duplicated-text fraction curation
    * pipelines threshold on. Complements winnowing (q113): winnowing is a
    * SAMPLED fingerprint with pair-level overlap evidence; this is the
    * position-complete exact signal — zero false positives/negatives on
    * ≥ L-char verbatim repeats, intra- AND inter-document.
    *
    * Scale shape: window generation is row-local (sequence → explode →
    * substring, inside codegen; one row per position, the same fan-out
    * class as shingling). The only wide exchanges are keyed on the gram —
    * a partially-aggregated count (map-side combine absorbs hot
    * boilerplate grams before the shuffle) and a semi-join marking
    * duplicated positions — then one groupBy(doc_id) whose collected state
    * is bounded by the document's own length (the chunking/packing bound).
    * The interval union is a fold over adjacent gaps of the SORTED
    * position list (`Σ min(L, pₖ₊₁ − pₖ) + L`), row-local HOF arithmetic.
    * The gram key exchanged is the 63-bit hash (see [[gramKeyExpr]]), not
    * the L-char string — 8 bytes instead of ~40 through every gram
    * shuffle; [[substringHashAudit]] (q177) measures the collision cost
    * (zero on the shipped corpus) against the string arm.
    */
  /** (doc_id, pos) of every duplicated L-gram — the shared core of
    * [[exactSubstringSpans]] (measure) and [[exactSubstringCut]] (act).
    */
  /** Every character-position L-gram as (`key`, pos, gram) — the single
    * window-extraction convention the whole ExactSubstr family shares
    * (spans/cut, span spectrum, source flow, source profile). One change
    * here reaches them all.
    *
    * `hashBits` picks the gram KEY representation. The production default
    * (63) exchanges an 8-byte hash instead of the L-char substring: the
    * substring is still built (row-local, pre-shuffle, collapsed by
    * whole-stage codegen), but every gram-keyed exchange downstream —
    * the dup-count shuffle, the semi-join, the per-source collapse —
    * carries 8 bytes where the string arm carried ~L (≈5× fewer shuffle
    * bytes at L=40, measured in PROFILE.md), removing the one
    * constant-factor scale hazard the round-8 verdict ranked first.
    * `hashBits = 0` keeps the raw string (the exact arm the collision
    * audit [[substringHashAudit]] compares against); 1..32 are the
    * deliberately-narrow audit arms that MUST show collisions (the
    * positive control proving the audit isn't vacuous).
    */
  private[dedup] def windowGrams(docs: DataFrame, L: Int, key: String,
      hashBits: Int = GramHashBits): DataFrame = {
    require(L >= 2, s"window length must be >= 2, got $L")
    val entering = docs.filter(length(col("text")) >= L)
    // ASCII guard on the HASHED path only: the 63-bit key's collision
    // license (q177: extra_pos = 0) and its DuckDB oracle pairing were both
    // measured on an ASCII corpus; non-ASCII text is un-audited territory
    // (the oracle's unicode()-per-grapheme fold diverges from Java's
    // UTF-16-unit fold on combining sequences and astral chars). The hash
    // itself is self-consistent on ANY input, so a non-ASCII deployment
    // needs only a re-run of the q177 audit on its corpus — this guard is
    // the loud reminder, not a semantic limit. `octet_length == length` is
    // exact for all-ASCII (UTF-8 multi-byte iff non-ASCII) and costs one
    // vectorized scan per DOCUMENT, pre-explode — invisible next to the
    // per-position gram fan-out. The string arm (hashBits = 0) stays
    // unguarded: it is the ground-truth audit arm and hash-free.
    val src =
      if (hashBits == 0) entering
      else entering.withColumn("text",
        when(octet_length(col("text")) === length(col("text")), col("text"))
          .otherwise(raise_error(concat(
            lit("non-ASCII text in the hashed-gram path (un-audited for the " +
              "63-bit gram key; re-run the q177 collision audit on this " +
              s"corpus or use hashBits = 0). $key="), col(key).cast("string")))))
    val base = src
      .select(col(key), col("text"),
        explode(expr(s"sequence(1, length(text) - ${L - 1})")).as("pos"))
      .select(col(key), col("pos"), expr(s"substring(text, pos, $L)").as("gram"))
    if (hashBits == 0) base
    else base.select(col(key), col("pos"), gramKeyExpr(hashBits).as("gram"))
  }

  /** Production gram-key width: 63 bits (two independent base-31 folds).
    * Collision odds over W distinct windows ≈ W²/2⁶⁴ — ~5·10⁻⁹ at 10⁷
    * windows; [[substringHashAudit]] measures the actual count (0) on the
    * shipped corpus, and a collision only ever ADDS duplicated positions
    * (hashing merges gram classes), so the failure mode is over-cutting,
    * never missed duplication.
    */
  val GramHashBits = 63

  /** The gram key as a Column over the string `gram` column. 63-bit keys
    * pack two 32-bit polynomial folds — `javaHash(gram)` (unsigned via
    * pmod) in the high 32 bits, `javaHash(reverse(gram)) mod 2³¹` in the
    * low 31 — so the max value is exactly Long.MaxValue (no ANSI
    * overflow) and the pair survives the classic base-31 collisions
    * ("Aa"/"BB" collide in one fold, never in both). Narrow widths
    * truncate the first fold: `2^bits | 2^32` keeps them a quotient of
    * the same hash, so narrowing is provably collision-monotone. Both
    * folds are [[JavaHashExpr]] (codegen Expression, q17/q112's proven
    * mechanism) — DuckDB-expressible via the same `javaHashSql` fold, so
    * every hashed-arm query stays byte-exact oracle-paired even if a
    * collision ever fires (the oracle merges the identical classes).
    */
  private[operators] def gramKeyExpr(bits: Int): org.apache.spark.sql.Column = {
    require((bits >= 1 && bits <= 32) || bits == 63,
      s"gram hash width must be 1..32 or 63, got $bits")
    if (bits == 63)
      // one-pass codegen form of pmod(javaHash(gram), 2³²)·2³¹ +
      // pmod(javaHash(reverse(gram)), 2³¹) — FunctionsSpec asserts the
      // equivalence; the composed form costs 3 string allocations per
      // window (measured slower than the string arm it replaces:
      // PROFILE.md round-9 addendum A)
      GramKeyExpr.of(col("gram"))
    else
      pmod(JavaHashExpr.of(col("gram")).cast("long"), lit(1L << bits))
  }

  private[dedup] def dupGramPositions(docs: DataFrame, L: Int,
      hashBits: Int = GramHashBits): DataFrame = {
    val grams = windowGrams(docs, L, "doc_id", hashBits)
    val dup = grams.groupBy("gram").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1).select("gram")
    grams.join(dup, Seq("gram"), "left_semi").select("doc_id", "pos")
  }

  def exactSubstringSpans(docs: DataFrame, L: Int,
      hashBits: Int = GramHashBits): DataFrame = {
    dupGramPositions(docs, L, hashBits)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_pos"),
        sort_array(collect_list(col("pos"))).as("ps"))
      .withColumn("covered_chars",
        expr(s"""$L + aggregate(
          zip_with(slice(ps, 1, size(ps) - 1), slice(ps, 2, size(ps) - 1),
            (a, b) -> least(CAST($L AS BIGINT), CAST(b - a AS BIGINT))),
          CAST(0 AS BIGINT), (acc, x) -> acc + x)"""))
      .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("len")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_dup_pos"), col("covered_chars"),
        expr("covered_chars * 1000000 div len").as("dup_frac_micro"))
  }

  /** Duplicated-SPAN LENGTH SPECTRUM — the distribution ExactSubstr's own
    * paper reports (Lee et al. ACL'22 §4: how long are the verbatim
    * repeats?): per merged duplicated span length (the [pos, pos+L)
    * interval-union islands [[exactSubstringCut]] removes), the number of
    * such spans corpus-wide. Long tails here mean whole sections/documents
    * are copied; mass at exactly L means isolated phrase reuse.
    *
    * Scale shape: q159's exchanges, then ONE fold per doc building the
    * island lengths row-local (start/prev/lengths accumulator over the
    * sorted positions), an explode bounded by spans-per-doc, and a keyed
    * count over ≤ max-doc-length distinct keys.
    */
  def spanLengthSpectrum(docs: DataFrame, L: Int,
      hashBits: Int = GramHashBits): DataFrame =
    dupGramPositions(docs, L, hashBits)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(explode(expr(s"""aggregate(ps,
        named_struct('start', 0, 'prev', 0,
          'lens', CAST(array() AS ARRAY<BIGINT>)),
        (st, p) -> CASE
          WHEN st.start = 0 THEN
            named_struct('start', p, 'prev', p, 'lens', st.lens)
          WHEN p - st.prev > $L THEN
            named_struct('start', p, 'prev', p, 'lens',
              concat(st.lens, array(CAST(st.prev + $L - st.start AS BIGINT))))
          ELSE named_struct('start', st.start, 'prev', p, 'lens', st.lens)
          END,
        st -> CASE WHEN st.start = 0 THEN st.lens
          ELSE concat(st.lens,
            array(CAST(st.prev + $L - st.start AS BIGINT))) END)"""))
        .as("span_len"))
      .groupBy("span_len").agg(count(lit(1)).as("n_spans"))

  /** Per-source duplication PROFILE: every duplicated L-gram position
    * split INTERNAL (the gram repeats, but only within this source) vs
    * EXTERNAL (the gram also appears in another source) — "template-heavy"
    * and "copying/copied" are different curation problems with different
    * fixes (cut boilerplate vs deduplicate against the other source), and
    * this is the per-source evidence separating them. Emits both counts,
    * the source's total window count, and the duplicated-position share.
    *
    * Scale shape: the char-position explode collapses in ONE pass to the
    * persisted (source, gram, cnt) table (state per gram bounded by the
    * source-domain cardinality); gram classification and the per-source
    * rollup are keyed aggregates over that table, joined gram-keyed like
    * q159's semi-join. No window, no collect.
    */
  def sourceDupProfile(docs: DataFrame, L: Int,
      hashBits: Int = GramHashBits): DataFrame = {
    // ONE window explode, collapsed immediately to (source, gram, cnt);
    // persisted because both the per-gram classification and the
    // per-source rollup read it (without the persist the char-position
    // explode — the dominant cost — would execute once per branch).
    // Structural lifecycle (round 9): the per-source profile is tiny, so
    // withPersisted checkpoints it and drops the gram-table cache entry.
    val sg = gramCounts(docs, L, hashBits)
    graft.core.Lifecycle.withPersisted(sg) {
      sourceDupProfileFromCounts(sg)
    }
  }

  /** The (source, gram, cnt) window-count table — [[sourceDupProfile]]'s
    * collapsed core, exposed because the STREAMING monitor maintains
    * exactly this as add-only keyed state (EventStream.gramCountStream)
    * and serves the profile off its snapshots.
    */
  def gramCounts(docs: DataFrame, L: Int,
      hashBits: Int = GramHashBits): DataFrame =
    windowGrams(docs, L, "source", hashBits)
      .groupBy("source", "gram").agg(count(lit(1)).as("cnt"))

  /** The profile half of [[sourceDupProfile]] over an already-built
    * (source, gram, cnt) table — shared verbatim by the batch operator
    * and the streaming monitor's serve side, so prefix equality between
    * them is equality of the COUNT STATE, which add-only counters give by
    * construction.
    */
  def sourceDupProfileFromCounts(sg: DataFrame): DataFrame = {
    // the classification side renames its gram key: this is a SELF-join of
    // `sg` (which may be a memory-sink view whose attribute ids repeat on
    // both sides — Spark's auto-dedup doesn't reach views), so one side
    // must carry fresh ids
    val cls = sg.groupBy("gram")
      .agg(sum("cnt").as("n_occ"), count(lit(1)).as("n_src"))
      .filter(col("n_occ") > 1)
      .select(col("gram").as("cls_gram"), (col("n_src") >= 2).as("ext"))
    sg.join(cls, sg("gram") === cls("cls_gram"), "left")
      .drop("cls_gram")
      .groupBy("source")
      .agg(sum(when(col("ext") === false, col("cnt")).otherwise(0L))
          .as("n_int_pos"),
        sum(when(col("ext") === true, col("cnt")).otherwise(0L))
          .as("n_ext_pos"),
        sum("cnt").as("total_pos"))
      .withColumn("dup_share_micro",
        expr("(n_int_pos + n_ext_pos) * 1000000 div total_pos"))
  }

  /** Cross-source SUBSTRING provenance matrix — [[dupFlow]] (q141) at
    * ExactSubstr granularity: per unordered source pair, the number of
    * DISTINCT duplicated L-grams both sources contain verbatim — which
    * sources copy from which, measured in shared text rather than
    * near-dup pair counts (a source that quotes another shares grams long
    * before whole documents become near-duplicates).
    *
    * Scale shape: one distinct over (source, gram) — partial-aggregated,
    * the gram exchange q159 already pays — then per gram a
    * collect_set(source) whose state is bounded by the SOURCE-DOMAIN
    * cardinality (a config-scale dimension, not corpus-scale), pair
    * expansion row-local over the sorted source array (the q160 HOF), and
    * one keyed count over ≤ C(#sources, 2) keys. No window, no collect.
    */
  def substringFlow(docs: DataFrame, L: Int,
      hashBits: Int = GramHashBits): DataFrame = {
    val gs = windowGrams(docs, L, "source", hashBits)
      .select("source", "gram").distinct()
    gs.groupBy("gram")
      .agg(expr("array_sort(collect_set(source))").as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
             transform(slice(ss, i + 2, size(ss)), b ->
               named_struct('source_a', a, 'source_b', b))))""")).as("p"))
      .groupBy(col("p.source_a").as("source_a"),
        col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** The ACTION half of ExactSubstr dedup: CUT every duplicated span
    * ([[exactSubstringSpans]] measures them) and emit the cleaned corpus —
    * per doc, the text with the union of duplicated [pos, pos+L) intervals
    * removed (remaining segments concatenated in order), plus the merged
    * span count and kept length. Docs with no duplicated window pass
    * through verbatim; invariant (test-asserted): kept_chars +
    * covered_chars == n_chars against the q159 measurement.
    *
    * Scale shape: identical to [[exactSubstringSpans]] through the
    * gram exchanges; the reconstruction is ONE fold over the sorted
    * position list carrying a (cursor, builder) accumulator — row-local,
    * state bounded by the document's own length. The corpus rewrite
    * never shuffles text: the only exchanged columns are (doc_id, pos)
    * and the gram keys.
    */
  /** Merged-span count over a sorted position array `ps` (null-safe 0). */
  private[dedup] def cutSpanCount(L: Int): org.apache.spark.sql.Column =
    coalesce(expr(s"""1 + aggregate(
        zip_with(slice(ps, 1, size(ps) - 1), slice(ps, 2, size(ps) - 1),
          (a, b) -> CASE WHEN b - a > $L THEN 1 ELSE 0 END),
        CAST(0 AS BIGINT), (acc, x) -> acc + x)"""), lit(0L))

  /** `text` with the union of [p, p+L) intervals of `ps` removed — one
    * row-local (cursor, builder) fold; docs with null `ps` pass verbatim.
    * Shared by [[exactSubstringCut]] and [[substringDecontamCut]]: the
    * reconstruction is identical, only WHICH positions get cut differs.
    */
  private[dedup] def cutText(L: Int): org.apache.spark.sql.Column =
    when(col("ps").isNull, col("text"))
      .otherwise(expr(s"""aggregate(ps,
        named_struct('cur', 1, 'txt', ''),
        (st, p) -> named_struct(
          'cur', greatest(st.cur, p + $L),
          'txt', CASE WHEN p > st.cur
            THEN concat(st.txt, substring(text, st.cur, p - st.cur))
            ELSE st.txt END),
        st -> concat(st.txt,
          substring(text, st.cur, length(text) - st.cur + 1)))"""))

  def exactSubstringCut(docs: DataFrame, L: Int,
      hashBits: Int = GramHashBits): DataFrame = {
    val perDoc = dupGramPositions(docs, L, hashBits)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    docs.select(col("doc_id"), col("text"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        cutSpanCount(L).as("n_cut_spans"),
        cutText(L).as("cleaned_text"))
      .withColumn("kept_chars", length(col("cleaned_text")).cast("long"))
      .select("doc_id", "n_cut_spans", "kept_chars", "cleaned_text")
  }

  /** Gram-hash COLLISION AUDIT — the q176 pattern applied to the
    * ExactSubstr core: the production arms (q159/q161/q163–q165) exchange
    * the 63-bit gram key instead of the L-char string, and this measures
    * what that costs on the actual corpus. Per hash width in `bitsList`,
    * the per-doc duplicated-position counts under the hashed key are
    * compared against the STRING-gram ground truth (same corpus, same L):
    * `dup_pos` (hashed-arm total), `exact_pos` (string-arm total),
    * `extra_pos` (collision-created false positions — hashing only ever
    * MERGES gram classes, so hashed ≥ exact pointwise per doc,
    * OperatorSpec-asserted), and `n_docs_inflated` (docs whose count
    * moved). The narrow widths (16/24 bits) are the positive control —
    * they MUST show collisions on a real corpus, proving the audit can
    * see them — and the 63-bit row reading `extra_pos = 0` is the
    * measured license for the hashed production core.
    *
    * Scale shape: ONE window explode carrying the string gram, persisted
    * ([[graft.core.Lifecycle.withPersisted]] — structural lifecycle, no
    * cache entry survives the call) and re-keyed per arm by a row-local
    * mod; each arm is the q159 exchange pair (keyed count + semi-join)
    * followed by a per-doc count; the cross-arm compare is a doc-keyed
    * full join and the output is |bitsList| rows. The string-gram
    * exchange here is the run-once audit cost (the q149-brute framing) —
    * production paths never pay it.
    */
  def substringHashAudit(docs: DataFrame, L: Int,
      bitsList: Seq[Int]): DataFrame = {
    require(bitsList.nonEmpty, "need at least one hash width to audit")
    // the two hash folds ride IN the persisted table (round 11): every
    // narrow arm derives its key from h32 by a row-local pmod and the
    // 63-bit arm reads k63 directly, so the |bitsList| hashed arms scan
    // only long columns from the cache — the ~L-byte gram strings are
    // column-pruned out of every arm pass and re-hashed zero times (the
    // string column stays for the exact arm, the audit's ground truth)
    val g = windowGrams(docs, L, "doc_id", 0)
      .withColumn("h32",
        pmod(JavaHashExpr.of(col("gram")).cast("long"), lit(4294967296L)))
      .withColumn("k63", GramKeyExpr.of(col("gram")))
    // per-doc duplicated-position count under whatever `gram` keying the
    // input carries — the q159 core, reused identically for every arm
    def perDoc(keyed: DataFrame, outName: String): DataFrame = {
      val dup = keyed.groupBy("gram").agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") > 1).select("gram")
      keyed.join(dup, Seq("gram"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as(outName))
    }
    // arm keys off the precomputed folds — value-identical to
    // gramKeyExpr(b) over the string (pmod of the SAME javaHash fold;
    // FunctionsSpec pins gramKeyExpr's composition)
    def armKey(b: Int): org.apache.spark.sql.Column =
      if (b == 63) col("k63") else pmod(col("h32"), lit(1L << b))
    val exact = perDoc(g.select(col("doc_id"), col("gram")), "n_exact")
    graft.core.Lifecycle.withPersisted(g, exact) {
      bitsList.map { b =>
        perDoc(g.select(col("doc_id"), armKey(b).as("gram")), "n")
          .join(exact, Seq("doc_id"), "full")
          .select(coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("n_exact"), lit(0L)).as("n_exact"))
          .agg(coalesce(sum("n"), lit(0L)).as("dup_pos"),
            coalesce(sum("n_exact"), lit(0L)).as("exact_pos"),
            coalesce(sum(col("n") - col("n_exact")), lit(0L)).as("extra_pos"),
            coalesce(sum(when(col("n") > col("n_exact"), 1L).otherwise(0L)),
              lit(0L)).as("n_docs_inflated"))
          .select(lit(b).as("hash_bits"), col("dup_pos"), col("exact_pos"),
            col("extra_pos"), col("n_docs_inflated"))
      }.reduce(_.unionByName(_))
    }
  }
}
