package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text analysis for training-data pipelines (SURVEY §2.11 X4):
 * token statistics, language ID, quality scoring, fingerprinting.
 *
 * Everything is a codegen'd Column expression over the corpus — one narrow
 * pass per doc (plus one shuffle for the global token frequency table).
 * No UDFs, no collect: all of it scales linearly with corpus size.
 */
object TextAnalysis {

  /** Global token frequency (explode + count — the one shuffle here). */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.words(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))

  /** Whitespace token count per document ([[Text.whitespaceTokens]]). */
  def tokenCountPerDoc(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), size(Text.whitespaceTokens(col(textCol))).as("n_tokens"))

  /** BPE-ish subword count: a regex in the GPT-2 pre-tokenizer family —
    * letter runs, digit runs, punctuation runs (RE2-compatible: no
    * lookarounds, so the same pattern runs in the oracle). An approximation
    * for token budgeting, not an exact tokenizer. */
  val BpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
  def bpeishTokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(BpeishPattern), lit(0))).as("n_bpeish"))

  /** Occurrences of `word` as a whole token in a space-separated text:
    * count via length differencing on the padded string — pure string ops,
    * available identically in any SQL engine (for the oracle). */
  def wordOccurrences(textCol: Column, word: String): Column = {
    val padded = concat(lit(" "), lower(textCol), lit(" "))
    val target = s" $word "
    // length-differencing with non-overlapping left-to-right replace:
    // identical semantics in every SQL engine. Caveat: immediately adjacent
    // repeats ("the the the") undercount because the shared space is
    // consumed — acceptable for marker scoring, and deterministic.
    ((length(padded) - length(replace(padded, lit(target), lit(" ")))) /
      lit(word.length + 1)).cast("long")
  }

  /** X4 language ID: stopword-marker scoring. A real pipeline uses a
    * character-n-gram model (e.g. fastText-style); the structure is the
    * same — per-language marker score, argmax — and this SQL-expressible
    * version keeps the oracle cross-checkable. */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def score(words: Seq[String]): Column =
      words.map(w => wordOccurrences(col(textCol), w)).reduce(_ + _)
    val sEn = score(Seq("the", "a"))
    val sQuery = score(Seq("query", "scan", "filter"))
    val sData = score(Seq("data", "row", "column"))
    // explicit argmax with a fixed tie-break order (en > query-ish > data-ish)
    docs.select(col(idCol),
      when(sEn >= sQuery && sEn >= sData, "en")
        .when(sQuery >= sData, "query-ish")
        .otherwise("data-ish").as("pred_lang"))
  }

  /** X4 quality score: length, alpha ratio, stopword ratio, mean token
    * length — combined into one interpretable [0,1]-ish score. Each ratio
    * is a single double division of exact ints (bit-stable). A ratio over
    * zero characters or zero tokens is NULL (`nullif` on the divisor —
    * ANSI division by zero would fail the query), so "" and all-space
    * documents score NULL ratios in both engines. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val nChars = length(text)
    val nAlpha = length(regexp_replace(text, "[^a-zA-Z]", ""))
    val nTok = size(Text.tokens(text))
    val nStop = wordOccurrences(text, "the") + wordOccurrences(text, "a")
    val perChar = nullif(nChars.cast("double"), lit(0.0))
    val perTok = nullif(nTok.cast("double"), lit(0.0))
    docs.select(
      col(idCol),
      nChars.as("n_chars_actual"),
      nTok.as("n_tokens"),
      (nAlpha.cast("double") / perChar).as("alpha_ratio"),
      (nStop.cast("double") / perTok).as("stopword_ratio"),
      ((nChars - nTok + 1).cast("double") / perTok).as("mean_token_len"))
  }

  /** X4 normalization: the canonical pre-dedup cleanup pass — lowercase,
    * collapse whitespace runs, strip non-alphanumeric-non-space. Order of
    * ops matters (strip before collapse, or stripped chars leave double
    * spaces) and is mirrored exactly in the oracle. */
  def normalize(textCol: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(textCol), "[^a-z0-9\\s]", ""),
      "\\s+", " "))

  /** X4 markup strip: reduce an HTML-ish document to its text content —
    * the first transform every web-crawl ingest applies. Approximate by
    * design (a full HTML5 parser is not a per-row expression): drop
    * comments (dotall — they span lines), drop tags, decode the six
    * entities that dominate crawl text, collapse whitespace. Entities
    * decode AFTER tag removal, so text like `&lt;b&gt;` stays literal
    * `<b>` in the OUTPUT rather than being re-interpreted as markup — the
    * standard one-pass cleaner contract. Pure regex/replace chain: one
    * fused projection, codegen'd, and replayable verbatim by the oracle
    * (RE2 and Java regex agree on every pattern used here). */
  def stripMarkup(textCol: Column): Column = {
    val noComments = regexp_replace(textCol, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&" // &amp; LAST
    ).foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** X4 PII scrub: redact email addresses and long digit runs (phone/SSN/
    * card shapes) before a corpus ships to training. Regex-only — the
    * production-shaped first pass; entity-model scrubbing would layer on
    * the same column contract. */
  def maskPii(textCol: Column): Column = {
    val emails = regexp_replace(textCol,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(emails, "\\d{7,}", "<NUM>")
  }

  /** X4 fingerprint: order-sensitive rolling hash over the token stream
    * (h = (h*31 + xxhash64(token)) mod 2^57). The modulus keeps every
    * intermediate below 2^63 so the fold is ANSI-safe (no wrapping overflow,
    * which Spark 4 rejects); 57 bits is ample for collision resistance at
    * corpus scale. Distinguishes permutations that set-based hashes
    * (minhash) collapse. No oracle — DuckDB lacks xxhash64; pinned by unit
    * test. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    fingerprintWith(docs, idCol, textCol, w => pmod(xxhash64(w), lit(FingerprintMod)))

  /** Cross-engine twin of [[fingerprint]]: the per-token hash is the first
    * 14 hex digits of md5(token) (< 2^56, so no pmod needed), which DuckDB
    * can reproduce — the rolling 31x fold itself gets hash-verified against
    * the oracle. The xxhash64 form stays the production path. */
  def fingerprintMd5(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    fingerprintWith(docs, idCol, textCol,
      w => Text.md5Prefix(w, 14))

  /** 2^57: keeps every fold intermediate below 2^63 (ANSI-safe — Spark 4
    * rejects wrapping overflow) while leaving ample collision resistance. */
  val FingerprintMod: Long = 1L << 57

  private def fingerprintWith(docs: DataFrame, idCol: String, textCol: String,
                              tokenHash: Column => Column): DataFrame =
    docs.select(col(idCol),
      aggregate(Text.tokens(col(textCol)), lit(0L),
        (acc, w) => (acc * lit(31L) + tokenHash(w)) % lit(FingerprintMod))
        .as("fingerprint"))

  /** X4 repetition filter (the Gopher/Rae-et-al. quality heuristic):
    * fraction of duplicated n-grams per document. Boilerplate and
    * degenerate generations repeat phrases; natural prose mostly doesn't.
    * Returns (id, n_ngrams, n_distinct, dup_ratio) — callers threshold
    * dup_ratio. Pure per-row array expressions, zero shuffle; the ratio is
    * one IEEE double division of exact ints (bit-stable for the oracle). */
  def ngramRepetition(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    Query.ensureParallelism(docs)
      .select(col(idCol), Text.tokens(col(textCol)).as("__t"))
      .select(col(idCol), Text.grams(col("__t"), n).as("__g"))
      .select(col(idCol),
        size(col("__g")).as("n_ngrams"),
        size(array_distinct(col("__g"))).as("n_distinct"))
      .withColumn("dup_ratio",
        when(col("n_ngrams") > 0,
          (col("n_ngrams") - col("n_distinct")).cast("double") /
            col("n_ngrams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** X4 salient-term extraction: top-`k` terms per document by a TF-IDF
    * score. The score is the linear-idf variant tf/df computed in exact
    * integer arithmetic — `score = (tf · 2^20) div df` — because a log-idf
    * score is a transcendental double whose last-ulp rounding differs
    * between libm implementations, making cross-engine rank verification
    * impossible; the linear form ranks identically wherever tf/df ordering
    * agrees with tf·ln(N/df) ordering (always, within one document, when
    * candidate dfs differ; ties break on the term itself). A log-idf score
    * column slots into the same plan if a consumer prefers it.
    *
    * Plan shape: ZERO corpus-sized exchanges — the property that matters
    * at 100 TB. Two independent map passes over the corpus:
    *  (a) df per term as `explode(array_distinct(tokens))` → partial
    *      map-side count → a term-DICTIONARY-sized shuffle → broadcast.
    *      This pass reads only the text column and skips the sort/
    *      run-length machinery the tf side needs ((doc, term) is unique,
    *      so counting distinct-per-doc occurrences IS df).
    *  (b) the tf rows, broadcast-joined to df at map side (no exchange),
    *      so `score` exists BEFORE any shuffle — which lets the rank<=k
    *      predicate push down as a PARTIAL WindowGroupLimit on the map
    *      side: each doc's tokens are contiguous after the explode, so
    *      the per-doc exchange that feeds the final window ships ≤k rows
    *      per doc, not the token stream.
    * The previous shape computed df as `count(*) over (partition by
    * term)`, which SORTS the entire (doc, term) stream by term, then
    * re-shuffled the full stream again for the per-doc window: two
    * corpus-sized exchanges vs none. A single-tokenize + broadcast-join
    * variant was measured and rejected: Catalyst prunes the df subtree's
    * Generate to `.token` only, so the two tf references canonicalize
    * differently and AQE stage reuse can NEVER deduplicate them — paying
    * the full tf tokenize twice costs more than pass (a)'s cheap distinct
    * form. The join carries NO broadcast hint: AQE converts it to a
    * broadcast hash join at runtime from the df aggregate's measured
    * size (verified + measured equal-or-faster than the hinted form),
    * and when a web-scale term dictionary (every typo/URL/number is a
    * "term") outgrows the broadcast limit it genuinely degrades to a
    * shuffle join — an explicit broadcast() hint would instead force the
    * build and fail the job. The token-less-doc filter is
    * `length(translate(text, ' ', '')) > 0` (⟺ ≥1 token — the tokenizer
    * splits on single spaces only, so trim(), which also strips tabs,
    * would NOT be equivalent) rather than `size(tokens) > 0`: the latter
    * gets pushed below the exchange as a scan filter and DUPLICATES the
    * whole array_sort tokenize against every row.
    *
    * PRECONDITION: `idCol` is unique (it is the document table's primary
    * key). The in-row run-length tf computes per physical ROW; duplicate
    * ids would yield duplicate (id, token) tf rows and double-counted df,
    * where the old groupBy(id, token) shape silently merged them. */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // tf computed INSIDE the row by the fused [[TokenTfPairs]] kernel
    // (tokenize → sort → run-length in one compiled pass; the earlier
    // HOF chain — array_sort → run-starts filter → transform structs —
    // paid a per-element lambda dispatch and dominated the map stage).
    // STRING tokens and exact counts: the DuckDB oracle replays the
    // identical values from raw text, and TokenKernelsSpec pins the
    // kernel value-equal to the HOF form it replaced. Both passes stay
    // hash-free; this replaces the groupBy(doc, token) aggregation
    // (whose keys are nearly unique, so partial aggregation collapsed
    // almost nothing and the exchange shipped the whole token stream).
    val tf = Query.ensureParallelism(docs)
      .filter(length(translate(col(textCol), " ", "")) > 0)
      .select(col(idCol),
        explode(org.apache.spark.sql.graft.TokenTfPairs.of(col(textCol))).as("__r"))
      .select(col(idCol), col("__r.token").as("token"), col("__r.tf").as("tf"))
    val dfTbl = Query.ensureParallelism(docs)
      .select(explode(
        org.apache.spark.sql.graft.DistinctTokens.of(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token"))
    tf.join(dfTbl, Seq("token"))
      .withColumn("score", expr("tf * 1048576 div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Inverted index construction (token → document postings): for every
    * distinct token, its document frequency and the first `k` posting doc
    * ids (ascending, ','-joined) — the retrieval-side structure a search /
    * RAG pipeline builds over a curated corpus, truncated the way an
    * impact-ordered index truncates posting lists.
    *
    * Same two-scan shape as [[tfidfTopK]] (the round-7/8-proven layout):
    * the df side collapses map-side through a partial count aggregate
    * (dictionary-sized exchange), the postings side rank-limits with
    * row_number ≤ k, which Catalyst rewrites to a partial WindowGroupLimit
    * BELOW the exchange — each map task ships at most k ids per token, so
    * a stopword's posting exchange is k·tasks rows, never its full df.
    * A single-pass window variant (count + row_number over one sort) would
    * ship the ENTIRE token stream through the exchange; two pruned scans
    * beat one unpruned shuffle at corpus scale. Tokens come from the fused
    * [[org.apache.spark.sql.graft.DistinctTokens]] kernel (bit-equal to
    * the HOF form, spec-pinned), so the whole map side is one traversal
    * per document. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def pairs = Query.ensureParallelism(docs)
      .select(col(idCol).as("__id"),
        explode(org.apache.spark.sql.graft.DistinctTokens.of(col(textCol)))
          .as("token"))
    val dfTbl = pairs.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("token")).orderBy(col("__id"))
    val postings = pairs
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(col("token"))
      .agg(concat_ws(",", sort_array(collect_list(col("__id")))).as("postings"))
    dfTbl.join(postings, Seq("token"))
      .select(col("token"), col("df"), col("postings"))
  }

  /** X4 context-window chunking: split each document's token stream into
    * consecutive chunks of `chunkSize` tokens (last chunk ragged) — the
    * packing step before sequence construction in a training pipeline.
    * One explode per doc, no shuffle; chunk text reassembles with single
    * spaces (the tokenizer's inverse up to whitespace runs). Token-less
    * docs produce no chunks. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    val toks = Text.tokens(col(textCol))
    // translate pre-filter ⟺ size(toks) > 0 without the pushed-down scan
    // filter re-running the split (see tfidfTopK)
    docs.filter(length(translate(col(textCol), " ", "")) > 0)
      .select(col(idCol), toks.as("__t"))
      .select(col(idCol), col("__t"),
        explode(sequence(lit(0L),
          floor((size(col("__t")) - lit(1)).cast("double") / lit(chunkSize.toDouble))
            .cast("long")))
          .as("chunk_no"))
      .select(col(idCol), col("chunk_no").cast("int").as("chunk_no"),
        slice(col("__t"),
          (col("chunk_no") * chunkSize + 1).cast("int"), lit(chunkSize)).as("__c"))
      .select(col(idCol), col("chunk_no"),
        array_join(col("__c"), " ").as("chunk_text"),
        size(col("__c")).as("n_tokens"))
  }

  /** X4: exact corpus-level heavy hitters — the top-k tokens by TOTAL
    * occurrence count (the non-distinct stream: frequency, not document
    * frequency), ties broken by token ascending so the output is fully
    * deterministic. The corpus-profiling pass behind stopword induction
    * and boilerplate detection. Scale shape: per-doc tokens explode
    * straight into a two-phase count (partial map-side — the exchange
    * carries one row per distinct token per partition, never the stream),
    * then orderBy+limit plans as TakeOrderedAndProject: per-partition
    * top-k heaps, only k rows per partition reach the driver merge. */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Query.ensureParallelism(docs)
      .select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
  }

  /** X4 skip-gram co-occurrence counts — the corpus statistic under PMI
    * association scoring, phrase mining, and word-vector objectives
    * (word2vec's window counts): unordered token pairs within `window`
    * positions of each other, with a minimum-support gate. The count is
    * emitted RAW (support), not as PMI itself: log is a transcendental
    * whose last-ulp differs across libm builds, while the count table is
    * exact — a consumer derives PMI, and RANKING by PMI needs only the
    * exact rational (cnt_xy·N)/(cnt_x·cnt_y) these counts give.
    *
    * Scale shape: pair generation is IN-ROW (for each offset j ≤ window,
    * zip the token stream against itself shifted by j — O(T·window) per
    * doc, never the O(T²) all-pairs-within-doc form), then ONE hash
    * exchange whose partial map-side aggregation collapses the stream to
    * the pair dictionary (bounded by vocab², and in practice by the
    * support gate). Self-pairs (a token co-occurring with itself) keep
    * their count like any pair; pair order is canonical (least, greatest). */
  def cooccurrence(docs: DataFrame, textCol: String, window: Int = 2,
                   minSupport: Long = 2): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val toks = Text.tokens(col(textCol))
    val pairs = flatten(array((1 to window).map { j =>
      zip_with(slice(toks, lit(1), greatest(size(toks) - j, lit(0))),
        slice(toks, lit(j + 1), greatest(size(toks) - j, lit(0))),
        (a, b) => struct(least(a, b).as("w1"), greatest(a, b).as("w2")))
    }: _*))
    Query.ensureParallelism(docs)
      .select(explode(pairs).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minSupport)
  }

  /** Top-k token pairs by pointwise mutual information over the
    * [[cooccurrence]] pair space — the phrase-mining / collocation score:
    * pmi(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with all probabilities taken
    * over PAIR occurrences (p(x,y) = cnt/NP; the marginal c(x) counts
    * every pair end x owns), so every input to the one ln is an exact
    * integer and the score is bit-identical cross-engine (single IEEE
    * division chain, round(6) belt). Support-gated BEFORE ranking
    * (rare-pair PMI is noise — the classic failure mode); marginals and
    * NP are computed over the UNGATED pair space. Scale shape: the pair
    * dictionary is vocab²-bounded; marginals explode its two ends (2
    * dictionary-sized rows), NP is one scalar broadcast-joined back. */
  def pmiPairs(docs: DataFrame, textCol: String, window: Int = 2,
               minSupport: Long = 50, k: Int = 30): DataFrame = {
    val co = cooccurrence(docs, textCol, window, minSupport = 1)
      .localCheckpoint() // read 3× (marginals, NP, gated pairs) — tiny
    val marg = co.select(explode(array(
        struct(col("w1").as("w"), col("cnt")),
        struct(col("w2").as("w"), col("cnt")))).as("__m"))
      .groupBy(col("__m.w").as("w"))
      .agg(sum(col("__m.cnt")).cast("bigint").as("c"))
    val np = co.agg(sum(col("cnt")).cast("bigint").as("np"))
    val result = co.filter(col("cnt") >= minSupport)
      .join(broadcast(marg.select(col("w").as("__w1"), col("c").as("c1"))),
        col("w1") === col("__w1"))
      .join(broadcast(marg.select(col("w").as("__w2"), col("c").as("c2"))),
        col("w2") === col("__w2"))
      .crossJoin(broadcast(np))
      .select(col("w1"), col("w2"), col("cnt"), col("c1"), col("c2"),
        round(log(col("cnt").cast("double") * col("np").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
      .localCheckpoint()
    Dedup.freeCheckpoints(co)
    result
  }

  /** Winnowing fingerprints (the MOSS local-minimum selection) per doc:
    * hash every `shingle`-token shingle (md5-prefix integer — the
    * oracle-replayable hash family), slide a `window`-shingle window, and
    * keep each window's MINIMUM hash; the distinct selected hashes are
    * the doc's fingerprint set. Winnowing's guarantee: any shared run of
    * `shingle + window − 1` tokens contributes at least one COMMON
    * fingerprint, with ~2/(window+1) of shingles kept — the
    * position-robust dedup sketch between exact hashing and minhash.
    * Everything is IN-ROW array math (no shuffle, no window function):
    * (doc_id, n_shingles, n_fp, fps ','-joined ascending). Docs with
    * fewer than `shingle + window − 1` tokens yield zero fingerprints. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         shingle: Int = 3, window: Int = 4): DataFrame = {
    require(shingle >= 1 && window >= 1, s"bad ($shingle, $window)")
    Query.ensureParallelism(docs)
      .select(col(idCol), Text.tokens(col(textCol)).as("__t"))
      // shingle hashes: md5 prefix (14 hex digits) of the space-joined gram
      .select(col(idCol), transform(Text.grams(col("__t"), shingle),
        g => Text.md5Prefix(g, 14)).as("__h"))
      .select(col(idCol), size(col("__h")).as("n_shingles"),
        when(size(col("__h")) >= window,
          array_sort(array_distinct(
            transform(sequence(lit(window), size(col("__h"))),
              i => array_min(slice(col("__h"), i - lit(window - 1),
                lit(window)))))))
          .otherwise(array().cast("array<long>")).as("__fp"))
      .select(col(idCol), col("n_shingles"),
        size(col("__fp")).as("n_fp"),
        array_join(col("__fp"), ",").as("fps"))
  }

  /** BM25 top-k retrieval for a fixed term list (Lucene's non-negative
    * idf variant): score(d) = Σ_t ln(1 + (N − df + 0.5)/(df + 0.5)) ·
    * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)). Exactness recipe: N,
    * df, tf, dl are integers; avgdl is ONE division of exact integers;
    * per-term scores fold in SORTED TERM ORDER via the in-row ordered
    * aggregate (the event-entropy recipe), so the sum's IEEE sequence is
    * pinned; round(6) belt. k1 = 1.2, b = 0.75 enter through the same
    * double literals both engines parse identically. Scale shape: df
    * and avgdl are term/scalar-sized broadcasts; per-doc tf is an
    * in-row count over the token array — the corpus is scanned ONCE. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms == terms.sorted,
      s"terms must be non-empty and sorted, got $terms")
    val toks = Text.tokens(col(textCol))
    val withTf = Query.ensureParallelism(docs)
      .select(col(idCol), toks.as("__tk"))
      .filter(size(col("__tk")) > 0)
      .select(col(idCol), size(col("__tk")).cast("long").as("dl"),
        array(terms.map(t =>
          size(filter(col("__tk"), w => w === t)).cast("long")): _*)
          .as("__tf"))
      .localCheckpoint() // read twice: corpus stats + scoring
    // corpus stats: one tiny row — N, avgdl, per-term df (array-aggregated
    // in term order)
    val stats = withTf.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("long").as("sum_dl"),
      array(terms.indices.map(i =>
        sum(when(col("__tf")(i) > 0, 1L).otherwise(0L)).cast("long")): _*)
        .as("__df"))
    val scored = withTf.crossJoin(broadcast(stats))
      .select(col(idCol), col("dl"),
        round(expr(
          s"""aggregate(
             |  zip_with(__tf, __df, (tf, df) -> struct(tf AS tf, df AS df)),
             |  CAST(0.0 AS DOUBLE),
             |  (acc, x) -> acc + CASE WHEN x.tf = 0 THEN CAST(0.0 AS DOUBLE)
             |    ELSE ln(CAST(1.0 AS DOUBLE)
             |            + (CAST(n_docs AS DOUBLE) - CAST(x.df AS DOUBLE)
             |               + CAST(0.5 AS DOUBLE))
             |              / (CAST(x.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
             |      * (CAST(x.tf AS DOUBLE)
             |         * (CAST(1.0 AS DOUBLE) + CAST($k1 AS DOUBLE)))
             |      / (CAST(x.tf AS DOUBLE) + CAST($k1 AS DOUBLE) *
             |         (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE)
             |          + CAST($b AS DOUBLE) * CAST(dl AS DOUBLE)
             |            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
             |  END)""".stripMargin), 6).as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .localCheckpoint()
    Dedup.freeCheckpoints(withTf)
    scored
  }
}
