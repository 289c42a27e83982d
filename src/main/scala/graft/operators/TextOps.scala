package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (SURVEY §2.3):
  * tokenization, token counting, language ID, quality scoring, document
  * fingerprinting. All per-row expressions built from codegen'd built-ins
  * and higher-order functions — no UDFs, no shuffles; whole-stage codegen
  * keeps these in one pass over the scan, so they scale linearly to any
  * corpus size.
  *
  * Determinism note: everything avoids transcendental functions and
  * cross-row float accumulation, so results are bit-identical across
  * engines (the DuckDB oracle mirrors each expression).
  */
object TextOps {

  /** Whitespace tokens with empties dropped (documents end with a
    * trailing space in the testdata). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Simple whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Deterministic 8-dim INTEGER hash embedding of a token — the
    * hash-embedding trick (Svenstrup et al. 2017, and the feature-hash
    * family's vector form): dimension j is the j-th md5 nibble centered
    * to [-8, 7]. No trained table, no lookup join — the "embedding" is
    * a per-row expression, which is what lets a token-level
    * late-interaction scorer run as pure codegen'd columnar arithmetic
    * at 100 TB (and mirror exactly: md5 is md5 in both engines).
    * `colName` is interpolated, so the expression composes anywhere a
    * token column is in scope. */
  def hashTokenVecExpr(colName: String): Column =
    hashVecFromHexExpr(s"md5($colName)")

  /** [[hashTokenVecExpr]] from an ALREADY-HASHED hex column — hash
    * once per row, derive the 8 dims from the hex (the r14 HOF-capture
    * trap: an md5 inside the transform lambda re-hashes per
    * dimension). */
  def hashVecFromHexExpr(hexCol: String): Column =
    expr(s"transform(sequence(1, 8), j -> " +
      s"cast(conv(substr($hexCol, j, 1), 16, 10) AS bigint) - 8)")

  /** Exact integer dot product of two integer-array columns. */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** BPE-ish token count: alpha runs, digit runs, and single punctuation
    * chars each count as one token (regex is portable Java/RE2 subset). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))

  /** Tiny per-language stopword sets for the n-gram/stopword language-ID
    * heuristic. Public-knowledge lists, deliberately small. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "for"),
    "es" -> Seq("el", "la", "de", "los", "en", "y", "que", "un"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "von", "zu"))

  /** Count of tokens (with multiplicity) that appear in `set`. */
  def stopwordHits(toks: Column, set: Seq[String]): Column = {
    val arr = array(set.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t)))
  }

  /** Language-ID: argmax of stopword hits with fixed tie order
    * en > es > fr > de; no hits at all → "und". */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val cnt = Seq("en", "es", "fr", "de").map(l => l -> stopwordHits(t, stopwords(l))).toMap
    when(cnt("en") >= greatest(cnt("es"), cnt("fr"), cnt("de")) && cnt("en") > 0, "en")
      .when(cnt("es") >= greatest(cnt("fr"), cnt("de")) && cnt("es") > 0, "es")
      .when(cnt("fr") >= cnt("de") && cnt("fr") > 0, "fr")
      .when(cnt("de") > 0, "de")
      .otherwise("und")
  }

  /** Heuristic quality score in [0,1]: linear mix of length saturation,
    * stopword ratio and mean token length — pure arithmetic (no exp/log)
    * so it is engine-portable bit-for-bit. The 6-decimal quantization
    * TRUNCATES (floor) rather than rounds: decimal rounding of a double
    * differs by 1 ulp between engines at half boundaries, floor never
    * does. */
  def qualityScore(text: Column): Column = {
    val t = tokens(text)
    val n = size(t).cast("double")
    val stopRatio = stopwordHits(t, stopwords("en")).cast("double") / n
    val totalTokChars = aggregate(t, lit(0), (acc, x) => acc + length(x))
    val avgTokLen = totalTokChars.cast("double") / n
    val score =
      least(n / 100.0, lit(1.0)) * 0.4 + stopRatio * 0.4 + least(avgTokLen / 10.0, lit(1.0)) * 0.2
    floor(score * 1000000) / 1000000
  }

  /** Gopher-style document quality rules (Rae et al. 2021, appendix
    * A1.1 — the public heuristic suite most curation stacks start
    * from): word count bounds, mean word length bounds, symbol-to-word
    * ratio ('#'/'…' spam), alphabetic-word fraction. Every signal is an
    * integer (×100 / ppm with floor `div`), so the whole rule verdict
    * is oracle-gatable bit-for-bit; thresholds are the paper's. Pure
    * per-row HOF arithmetic — embarrassingly parallel, the scan is the
    * filter. */
  def gopherStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    docs.select(col(idCol),
        size(t).cast("long").as("n_words"),
        aggregate(t, lit(0L), (acc, x) => acc + length(x).cast("long"))
          .as("total_chars"),
        size(filter(t, x => x.rlike("[A-Za-z]"))).cast("long").as("alpha_hits"),
        size(filter(t, x => x.rlike("[#…]"))).cast("long").as("sym_hits"))
      .withColumn("mean_word_len_x100", expr(
        "CASE WHEN n_words > 0 THEN total_chars * 100 div n_words ELSE 0 END"))
      .withColumn("symbol_word_ppm", expr(
        "CASE WHEN n_words > 0 THEN sym_hits * 1000000 div n_words ELSE 0 END"))
      .withColumn("alpha_word_ppm", expr(
        "CASE WHEN n_words > 0 THEN alpha_hits * 1000000 div n_words ELSE 0 END"))
      .withColumn("keep",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len_x100").between(300L, 1000L) &&
          col("symbol_word_ppm") < 100000L &&
          col("alpha_word_ppm") >= 800000L)
      .select(col(idCol), col("n_words"), col("mean_word_len_x100"),
        col("symbol_word_ppm"), col("alpha_word_ppm"), col("keep"))
  }

  /** 3-token shingles: ["a b c", "b c d", …]. Returns empty array for
    * docs shorter than 3 tokens.
    *
    * Built as a zip_with fold over k SHIFTED SLICES (each evaluates
    * `toks` once per row) rather than a per-position
    * `slice(toks, i, k)` lambda: a captured outer expression inside a
    * higher-order-function lambda is re-evaluated PER INVOCATION, so
    * when `toks` is an unmaterialized `filter(split(text))` the old
    * form re-split the document at every position — O(len²) per doc
    * (found via text_bigram_logprob: 7.0 s → 1.3 s warm at sf0.1;
    * every shingle consumer inherits the fix). Output strings are
    * byte-identical to the old form. */
  def shingles(toks: Column, k: Int = 3): Column = {
    val n = size(toks) - (k - 1)
    val zipped = (0 until k)
      .map(i => slice(toks, lit(i + 1), n))
      .reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
    when(size(toks) >= k, zipped)
      .otherwise(array().cast("array<string>"))
  }

  /** One MinHash value: min over md5(seed ++ shingle). md5 is identical
    * in every engine, which makes signatures oracle-comparable — a
    * deliberate choice over murmur-style hashes (Spark-specific seeds). */
  def minhash(shing: Column, seed: String): Column =
    array_min(transform(shing, sh => md5(concat(lit(seed), sh))))

  /** 16-bit SimHash from the high bit of each of the first 16 hex digits
    * of md5(token), weighted by token multiplicity. Pure HOF arithmetic:
    * bit b of the signature is set iff more tokens have md5-hex-digit b
    * in [8..f] than not. */
  def simhash16(toks: Column): Column = {
    val n = size(toks)
    val bits = (0 until 16).map { b =>
      val ones = size(filter(toks,
        t => substring(md5(t), b + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f")))
      when(ones * 2 > n, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Repetition score in [0,1]: the fraction of duplicate `k`-gram
    * occurrences, `1 − distinct/total` over the shingle multiset — the
    * standard boilerplate/loop-detection quality signal in LLM data
    * pipelines (0 = no repeated n-gram, →1 = the same n-gram looping).
    * Docs too short for a single shingle score 0. Floor-quantized at 6
    * decimals like [[qualityScore]] (floor never straddles engines'
    * half-rounding). */
  def repetitionScore(toks: Column, k: Int = 3): Column = {
    val sh = shingles(toks, k)
    when(size(sh) === 0, lit(0.0))
      .otherwise(floor((lit(1.0) -
        size(array_distinct(sh)).cast("double") / size(sh).cast("double")) * 1000000) / 1000000)
  }

  /** PII patterns in the portable Java/RE2 regex subset (no lookaround,
    * no backreferences — both engines and any future Go/Rust runner agree
    * on these). Deliberately conservative: curation pipelines prefer
    * missing an exotic format to redacting non-PII. */
  val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiPhone = "(\\+[0-9]{1,2}[- ])?\\(?[0-9]{3}\\)?[- .][0-9]{3}[- .][0-9]{4}"
  val piiIpv4 = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Count of non-overlapping matches of `pattern` in `text`. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Scrub PII: email → `<EMAIL>`, IPv4 → `<IP>`, phone → `<PHONE>`.
    * Email first (its local part may contain digits and dots), then IP
    * (all-digit), then phone — so an earlier replacement can never create
    * or destroy a later pattern's match in practice. Three codegen'd
    * `regexp_replace` passes, no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      piiEmail, "<EMAIL>"), piiIpv4, "<IP>"), piiPhone, "<PHONE>")

  /** Shingles hashed to 60-bit ints (first 15 hex digits of md5):
    * integer-array set ops are ~10× cheaper than string-array ones in the
    * pairwise verification stage, and the hash is engine-portable
    * (DuckDB: ('0x' || substr(md5(s),1,15))::BIGINT). */
  def hashedShingles(shing: Column): Column =
    transform(shing, s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))

  /** Set-Jaccard of two shingle arrays (dedup verification metric). */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_distinct(concat(a, b))) === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_distinct(concat(a, b))).cast("double"))

  /** Unigram language-model quality score — the CCNet-style perplexity
    * proxy: train a unigram LM on the corpus itself (token counts over
    * total), score each document by its mean token log-probability.
    * Common-token prose scores high; rare-token noise (markup, hex
    * dumps, ocr garbage) scores low — the statistical quality filter
    * layered over [[qualityScore]]'s per-row heuristics in production
    * curation stacks.
    *
    * Determinism: each token's log-prob quantizes to
    * `floor(1e6·ln(c/N))` — the BM25 idf discipline
    * ([[SearchOps.searchBm25]]) — so the per-doc fold is an
    * order-independent integer sum and the DuckDB mirror is exact.
    *
    * 100 TB shape: one token-keyed count agg (map-side combine), one
    * single-row total, and a token-keyed scoring join — the vocab side
    * carries one row per distinct token, so hot (zipfian) tokens are
    * many probe rows against one build row, never a pairwise blowup;
    * broadcast when the vocabulary fits, hash join when it doesn't
    * (AQE decides). Nothing collects to the driver. */
  def unigramLogProb(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tk = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val cnt = tk.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("n"))
    tk.join(cnt, Seq("token"))
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        floor(lit(1000000.0) *
          log(col("c").cast("double") / col("n").cast("double")))
          .cast("long").as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("lp_sum"))
      .select(col(idCol), col("n_tokens"),
        round(col("lp_sum").cast("double") /
          (col("n_tokens").cast("double") * lit(1e6)), 6).as("avg_logprob"))
  }

  /** [[unigramLogProb]]'s order-2 sibling: a FEATURE-HASHED bigram
    * language model trained on the corpus itself scores each doc by
    * its mean conditional log-prob `ln(c2[h(w1 w2)] / c1[h(w1)])` —
    * sequence structure the unigram filter is blind to (a bag of
    * common words in nonsense order scores high under unigrams, low
    * here). The model is TWO fixed-width count vectors of
    * [[graft.operators.PipelineOps.dsirBuckets]] buckets each (the
    * DSIR hashed-n-gram discipline, VERDICT r18 #3) — the earlier
    * exact-vocabulary form pinned a distinct-bigram leaf on the
    * driver, a bound that holds on a fixture but not on a 100 TB
    * corpus, whose DISTINCT-BIGRAM table is not driver-sized. Hashed,
    * the model is ≤ 2·B rows REGARDLESS of corpus size: the leaf and
    * the broadcast below are parameter-bounded, nothing
    * corpus-cardinality-dependent ever leaves the cluster. Same
    * integer discipline: per-bigram `floor(1e6·ln(...))` longs fold
    * order-independently. Docs with fewer than 2 tokens have no
    * bigrams and emit no row — on both engines identically. */
  def bigramLogProb(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val b = graft.operators.PipelineOps.dsirBuckets
    // engine-portable md5-prefix bucket (dsirDocCounts' discipline)
    def bucket(c: Column): Column =
      conv(substring(md5(c), 1, 4), 16, 10).cast("long") % b
    // bigrams ARE 2-shingles: one "w1 w2" string per position (tokens
    // never contain spaces, so the pair decomposes uniquely). Built
    // with zip_with over TWO SLICES — each evaluates the token split
    // once per ROW — instead of [[shingles]]' per-position
    // `slice(toks, i, k)` lambda, whose captured `toks` re-evaluates
    // the split PER POSITION (O(len²) per doc — measured as the bulk
    // of a 7 s naive runtime).
    val t = tokens(col(textCol))
    val bgArr = when(size(t) >= 2,
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    // per-occurrence bucket pair: b2 = bucket of the bigram, b1 =
    // bucket of its left token — the numerator/denominator lookups
    val bgp = docs.select(col(idCol), explode(bgArr).as("s"))
      .select(col(idCol),
        bucket(element_at(split(col("s"), " "), 1)).as("b1"),
        bucket(col("s")).as("b2"))
    // BOTH bucket vectors in ONE corpus pass (each occurrence emits a
    // kind-1 row for its left token and a kind-2 row for the bigram),
    // then pinned eagerly as a local leaf — ≤ 2·B = 8192 rows by
    // construction, the classifier-weights collect class, so the
    // scoring join below doesn't re-run the explode. Eager beats
    // RDD-persist here: the lazy persisted RDD leaked one cached RDD
    // per invocation for the session lifetime (ADVICE r14) — the leaf
    // holds nothing in the block manager.
    val mraw = bgp.select(explode(array(
        struct(lit(1).as("kind"), col("b1").as("bucket")),
        struct(lit(2).as("kind"), col("b2").as("bucket")))).as("kb"))
      .groupBy(col("kb.kind").as("kind"), col("kb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
    val m = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(mraw.collect(): _*), mraw.schema)
    val c1 = m.filter(col("kind") === 1)
      .select(col("bucket").as("b1"), col("c").as("c1"))
    val c2 = m.filter(col("kind") === 2)
      .select(col("bucket").as("b2"), col("c").as("c2"))
    // model broadcasts explicitly (≤ B rows a side — the corpus-sized
    // exploded probe can never be mistaken for the small side)
    bgp.join(broadcast(c2), Seq("b2")).join(broadcast(c1), Seq("b1"))
      .select(col(idCol),
        floor(lit(1000000.0) *
          log(col("c2").cast("double") / col("c1").cast("double")))
          .cast("long").as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("lp_sum"))
      .select(col(idCol), col("n_bigrams"),
        round(col("lp_sum").cast("double") /
          (col("n_bigrams").cast("double") * lit(1e6)), 6).as("avg_logprob"))
  }

  /** Integer tf·idf term weights: wq = tf · floor(1e6·ln(N/df)), with
    * high-df terms (df > maxDfPct% of N) dropped — the standard
    * stopword prune that bounds the postings a doc-doc similarity join
    * fans out to. The weight is integer-exact cross-engine (ln is
    * correctly rounded; everything else is BIGINT). */
  def tfidfWeights(docs: DataFrame, idCol: String, textCol: String,
      maxDfPct: Int): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    tf.join(dfreq, Seq("token")).crossJoin(nDocs)
      .filter(col("df") * 100 <= col("n_docs") * maxDfPct)
      .select(col(idCol), col("token"),
        (col("tf") * floor(lit(1000000.0) *
            log(col("n_docs").cast("double") / col("df").cast("double")))
          .cast("long")).as("wq"))
  }

  /** Per-doc top-`k` DISTINCTIVE terms — tf-idf semantics in pure
    * integer math: rank a doc's terms by (tf desc, df asc, term asc),
    * i.e. frequent in the doc, rare in the corpus. The lexicographic
    * integer ordering keeps the result bit-exact across engines, where
    * a real tf·log(N/df) score would hash-drift on the last ulp of the
    * engines' differing log implementations (the determinism rule this
    * file lives by).
    *
    * The only CORPUS-RELATIVE text operator (everything above is
    * per-row): two aggregation passes — (doc, term) term frequencies
    * with map-side combine, then term document frequencies over the
    * distinct (doc, term) pairs — a term-keyed join of tf against the
    * much smaller df side (broadcast when the vocabulary fits; AQE
    * decides), and a per-doc top-k window. The canonical two-pass
    * corpus-statistics shape at 100 TB; nothing is ever collected. */
  def distinctiveTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("token"))
    tf.join(dfreq, Seq("token"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("rk"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010), the stopword-
    * delimited variant: candidate phrases are maximal runs of non-stop
    * tokens (the gaps-and-islands trick — `pos − row_number()` over the
    * non-stop positions is constant exactly within a run), word scores
    * are `degree/freq` where freq counts phrase-occurrences of a word
    * and degree sums the lengths of its phrases, and a phrase scores
    * the sum of its word scores. Every score is exact integer
    * (`degree·10⁶ div freq` — identical phrase strings always score
    * identically), so the global top-k gates bit-for-bit.
    *
    * Scale shape: one corpus explode; the island window is partitioned
    * per doc; word stats are a vocab-sized aggregate broadcast back
    * onto the phrase tokens; the final top-k is orderBy+limit →
    * TakeOrderedAndProject, the distributed top-k. */
  def rakeKeyphrases(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = array(stopwords("en").map(lit): _*)
    // one explode → one (doc, island) shuffle → the COMPACT phrase
    // table; every later stage re-derives word rows by exploding the
    // small phrase frame, never the corpus again (each extra reference
    // to the `ns` plan would re-run the corpus explode — the r15
    // re-evaluation trap; measured 1.96 → 1.38 s warm at sf0.1)
    val ns = docs.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
      .filter(!array_contains(stop, col("token")))
      .withColumn("island", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val phrases = ns.groupBy(col("doc_id"), col("island"))
      .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x("token")).as("toks"),
        count(lit(1)).as("plen"))
      .select(col("doc_id"), col("island"),
        array_join(col("toks"), " ").as("phrase"), col("toks"), col("plen"))
    // phrase-word rows from the compact table (explode of ≤plen arrays)
    val phw = phrases.select(col("doc_id"), col("island"), col("phrase"),
      col("plen"), explode(col("toks")).as("token"))
    val wordScore = phw.groupBy(col("token"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .select(col("token"), expr("degree * 1000000 div freq").as("w_score"))
    phw.join(broadcast(wordScore), Seq("token"))
      .groupBy(col("doc_id"), col("island"), col("phrase"))
      .agg(sum(col("w_score")).as("score"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occur"), min(col("score")).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(k)
  }
}
