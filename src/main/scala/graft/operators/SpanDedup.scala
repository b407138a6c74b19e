package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * X2 [EXT] — duplicated-SPAN removal (exact substring dedup).
 *
 * Document-level dedup (exact / minhash / simhash, `Dedup.scala`) drops
 * whole near-identical documents, but the dominant redundancy in web-scale
 * pretraining corpora is SUB-document: boilerplate headers, license
 * blocks, navigation chrome and quoted passages repeated across otherwise
 * distinct pages. The standard treatment (Lee et al. 2022, "Deduplicating
 * Training Data Makes Language Models Better") removes every substring
 * that occurs more than once in the corpus. A literal suffix-array build
 * over 100 TB is its own distributed-systems project; the scalable
 * relational equivalent used here is the word-n-gram approximation: a
 * token position is "duplicated" when ANY corpus-repeated n-gram covers
 * it, and the cleaned document is the original token stream with covered
 * positions dropped. With n = [[SpanDedup.DefaultN]] this flags exactly
 * the spans a suffix-array pass would flag at match length ≥ n tokens,
 * quantized to token boundaries.
 *
 * Reference framing: taps has no text analytics at all (its unit of
 * transfer is the opaque row — `lib/taps/data_stream.rb:76-87`); this
 * whole family is the [EXT] north-star surface (SURVEY §2.11).
 *
 * Scale shape (the part that must survive 100 TB):
 *  - THREE linear corpus passes and nothing quadratic anywhere:
 *    (1) positional gram stream → `groupBy(gh).count()` — partially
 *        aggregated map-side, so the exchange carries the gram
 *        DICTIONARY (distinct grams), not the gram stream;
 *    (2) the gram stream again, joined to the repeated-gram set. The
 *        join carries NO broadcast hint: AQE promotes it to broadcast
 *        from the measured size of the filtered dictionary (tfidfTopK
 *        precedent — a boilerplate-heavy corpus can have a repeated-gram
 *        set that outgrows a broadcast, and a hint would force the build
 *        and fail the job where a shuffle join still finishes);
 *    (3) the documents table, left-joined to the per-doc start-position
 *        sets to rebuild cleaned text in-row.
 *    A single-tokenize reuse of (1)+(2) is NOT reachable: Catalyst
 *    prunes the count side to `gh` alone, so the two gram-stream
 *    references canonicalize differently and AQE stage reuse can never
 *    dedupe them (measured on tfidfTopK, round 8).
 *  - Per-doc state is bounded by DOCUMENT length (the `collect_set` of
 *    duplicated start positions), never by corpus-wide clone-group size —
 *    the giant-clone-group hazard the round-7 verdict flagged for the
 *    drop paths cannot arise here.
 *  - The in-row coverage test is LINEAR in document length: kept
 *    positions are `array_except(1..T, ∪ start..start+n-1)` — a
 *    hash-set difference, O(T + S·n) per document with n a small
 *    constant, never the O(T × S) per-position scan a naive
 *    exists-per-token encodes (which approaches O(L²) on a long,
 *    heavily-boilerplate document and stalls its task — ADVICE r8).
 *
 * Oracle: the gram hash is the md5-prefix witness
 * ([[Curation.gramHashMd5]], the 60-bit [[Text.md5Prefix]]),
 * replayed digit-for-digit by the DuckDB oracle — the whole pipeline
 * (tokenize, positional grams, repeat threshold, coverage, cleaned text)
 * is cross-engine exact, hence a FULL hash oracle, not rows-only.
 */
object SpanDedup {

  /** Span match length, in tokens. 5 words ≈ the shortest span that is
    * evidence of copying rather than coincidence (Lee et al. use 50 BPE
    * tokens for full suffix-array dedup; at word granularity with a
    * repeat threshold of 2 occurrences, 5 keeps the fixture corpus's
    * planted boilerplate detectable while staying conservative). */
  val DefaultN = 5

  /** The family tokenizer ([[Text.tokens]]) with NULL text counted as
    * empty, so a NULL document surfaces with zeros like "" does. Doc
    * dedup and decontamination split tokens the same way, so all three
    * agree on token positions. */
  private def toks(textCol: Column): Column = Text.tokens(coalesce(textCol, lit("")))

  /** (id, pos, gh) stream of every n-gram occurrence in the corpus: the
    * 1-based start position and the gram's md5-prefix hash. `< n`-token
    * docs emit nothing ([[Text.grams]]' guard — no row-level filter,
    * which Catalyst would push into the scan as a second full tokenize).
    * The hash is taken inside the array, before the explode: over the
    * exploded column, the join's inferred `gh IS NOT NULL` filter would
    * digest every gram a second time. */
  private def gramStream(docs: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame =
    Query.ensureParallelism(docs)
      .select(col(idCol), toks(col(textCol)).as("__tk"))
      .select(col(idCol), posexplode(transform(Text.grams(col("__tk"), n),
        g => Curation.gramHashMd5(g))).as(Seq("__p0", "__gh")))
      .select(col(idCol), (col("__p0") + 1).as("__pos"), col("__gh"))

  /**
   * Per-document duplicated-span statistics + cleaned text.
   *
   * Output: (idCol, n_tokens, n_dup_tokens, dup_ppm, clean_text) — one row
   * per input document (token-less and NULL-text docs surface with zeros
   * and an empty clean_text). `dup_ppm` is the duplicated-token fraction
   * in integer parts-per-million (floor division — exact cross-engine),
   * the quantity a curation pipeline thresholds on ("drop documents that
   * are > 80% boilerplate"); `clean_text` is the span-scrubbed token
   * stream, the Lee-et-al transform itself.
   *
   * A gram is repeated when its corpus-wide occurrence count (across ALL
   * docs AND positions — a self-repeating doc is boilerplate too) is
   * ≥ `minCount`.
   */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = DefaultN, minCount: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    // pass 1: repeated-gram dictionary (Catalyst prunes this subtree to
    // `gh` alone — the exchange carries (gh, partial count) post-combine)
    val dup = gramStream(docs, idCol, textCol, n)
      .groupBy(col("__gh")).agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minCount)
      .select(col("__gh"))
    // pass 2: which (doc, start) positions those grams occupy
    val starts = gramStream(docs, idCol, textCol, n)
      .join(dup, Seq("__gh"), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_set(col("__pos")).as("__starts"))
    // pass 3: rebuild each doc in-row from its duplicated start set.
    // Coverage by SET DIFFERENCE, not a per-position scan: kept positions
    // = array_except(1..T, covered), where covered is the flattened union
    // of start..start+n-1 ranges (starts never overrun the doc — grams
    // only begin where a full n-gram fits). ArrayExcept hashes the right
    // side once and preserves left order, so the whole rebuild is
    // O(T + S·n) per document and the output token order is positional.
    val tk = toks(col(textCol))
    val st = coalesce(col("__starts"), array().cast("array<int>"))
    val allPos = when(size(col("__tk")) > 0,
      sequence(lit(1), size(col("__tk"))))
      .otherwise(array().cast("array<int>"))
    val covered = flatten(transform(col("__st"),
      s => sequence(s, s + lit(n - 1))))
    docs.join(starts, Seq(idCol), "left")
      .select(col(idCol), tk.as("__tk"), st.as("__st"))
      .select(col(idCol), col("__tk"),
        array_except(allPos, covered).as("__keptPos"))
      .select(col(idCol), size(col("__tk")).as("n_tokens"),
        (size(col("__tk")) - size(col("__keptPos"))).as("n_dup_tokens"),
        col("__tk"), col("__keptPos"))
      .select(col(idCol), col("n_tokens"), col("n_dup_tokens"),
        when(col("n_tokens") > 0,
          expr("(CAST(n_dup_tokens AS BIGINT) * 1000000) div n_tokens"))
          .otherwise(lit(0L)).as("dup_ppm"),
        array_join(transform(col("__keptPos"),
          p => element_at(col("__tk"), p)), " ").as("clean_text"))
  }

  /** Paragraph width for [[dedupParagraphs]], in tokens. Real pipelines
    * split on blank lines; the fixture corpus is single-line, so fixed
    * token windows stand in for paragraph boundaries (the dedup mechanics
    * — first-occurrence-wins across the corpus — are boundary-agnostic). */
  val DefaultParaTokens = 10

  /**
   * Paragraph-level exact dedup (the RefinedWeb / FineWeb curation stage
   * between whole-document dedup and span removal): split each document
   * into paragraphs, keep only the corpus-wide FIRST occurrence of each
   * distinct paragraph (minimum (doc id, paragraph index) — deterministic,
   * growth-stable for appended corpora with increasing ids), and rebuild
   * every document from its surviving paragraphs in order.
   *
   * Output: (idCol, n_paras, n_kept, clean_text) — one row per input
   * document; docs whose every paragraph first occurred elsewhere surface
   * with n_kept = 0 and empty clean_text (a downstream length gate drops
   * them — this operator never silently loses rows).
   *
   * Scale shape: two linear passes over the paragraph stream.
   *  (1) first-occurrence election: `row_number` over
   *      (partition by paragraph, order by (id, idx)) — ONE hash exchange
   *      on the paragraph text; per-group state is the winner row only
   *      (WindowGroupLimit pushes rn=1 map-side), so a boilerplate
   *      paragraph repeated a billion times costs its group one retained
   *      row, not a collected array.
   *  (2) per-doc reassembly: groupBy(id) over the SURVIVING paragraphs
   *      only — state bounded by document length. The final left join
   *      restores paragraph-free docs.
   * Nothing is quadratic; no member arrays; the heaviest exchange carries
   * the paragraph stream once. (A production variant would exchange a
   * 128-bit paragraph hash instead of the text — the md5 witness here
   * keeps the oracle replayable and the text rides only until the
   * election, exactly like the dictionary exchanges in [[removeDupSpans]].)
   */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      w: Int = DefaultParaTokens): DataFrame = {
    require(w >= 1, s"paragraph width must be >= 1, got $w")
    val tk = toks(col(textCol))
    val paras = Query.ensureParallelism(docs)
      .select(col(idCol), tk.as("__tk"))
      .select(col(idCol), posexplode(
        when(size(col("__tk")) > 0,
          transform(sequence(lit(0), ((size(col("__tk")) - 1) / w).cast("int")),
            i => array_join(slice(col("__tk"), i * w + 1, lit(w)), " ")))
          .otherwise(array().cast("array<string>"))).as(Seq("__pidx", "__para")))
    // token-less docs explode to zero rows here; the final left join restores them
    val won = paras.withColumn("__rn", row_number().over(
        Window.partitionBy(col("__para"))
          .orderBy(col(idCol), col("__pidx"))))
      .filter(col("__rn") === 1)
    val rebuilt = won.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("__pidx"), col("__para")))), s => s.getField("__para")),
          " ").as("clean_text"))
    docs.select(col(idCol),
        when(size(tk) > 0, ((size(tk) - 1) / w).cast("int") + 1)
          .otherwise(lit(0)).as("n_paras"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
