package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

/** Column-expression text analysis for large-scale training-data pipelines.
  * Everything here is pure `functions._` composition (codegen'd, pushdown-
  * friendly) — no UDFs in the scan path. Operates on a text Column so the
  * same expressions serve batch, streaming, and SQL.
  */
object TextFunctions {

  /** Lowercased word tokens, empty strings removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\W+"), t => length(t) > 0)

  /** Whitespace-delimited token count (cheap, for budget estimates). */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** Word k-grams as strings ("a b c"); documents shorter than k tokens
    * fall back to their tokens. Built from a zip of k shifted slices so
    * the tokenization binds once (HOF lambdas get no common-subexpression
    * elimination).
    */
  def wordNgrams(text: Column, k: Int): Column = ngramsFromTokens(tokens(text), k)

  /** K-grams from an already-bound token-array column — use this form when
    * several gram sizes share one tokenization (bind `tokens(text)` in its
    * own projection; HOF chains get no common-subexpression elimination).
    */
  def ngramsFromTokens(toks: Column, k: Int): Column = {
    val n = size(toks)
    val zipped = arrays_zip(
      (0 until k).map(j => slice(toks, lit(j + 1), greatest(n - (k - 1), lit(0))).as(s"t$j")): _*)
    val grams = transform(zipped, s => concat_ws(" ", (0 until k).map(j => s.getField(s"t$j")): _*))
    when(n >= k, grams).otherwise(toks)
  }

  /** Normalized text for fingerprinting: lowercase, collapse whitespace, trim. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** 64-bit content fingerprint of normalized text, as 16 hex chars
    * (md5 prefix — stable across engines for dedup-oracle checks).
    * For pure-Spark pipelines prefer SQL `rolling_hash(normalized)` — the
    * native codegen'd expression ([[RollingHash]]).
    */
  def fingerprintHex(text: Column): Column =
    substring(md5(normalized(text)), 1, 16)

  /** Heuristic quality-score features (ratios in [0,1], rounded for
    * engine-stable output):
    * chars, tokens, mean token length, punctuation ratio, stopword ratio.
    */
  val stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is")

  def punctRatio(text: Column): Column =
    round(length(regexp_replace(text, "[\\w\\s]+", "")).cast("double") /
      greatest(length(text).cast("double"), lit(1.0)), 4)

  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    round(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(toks).cast("double"), lit(1.0)), 4)
  }

  /** Composite quality gate: long enough, not punctuation soup, some
    * plausible word-length distribution. Deterministic; thresholds are the
    * usual web-corpus heuristics (Gopher-style length/symbol rules).
    */
  def qualityOk(text: Column): Column =
    (length(text) >= 20) && (wsTokenCount(text) >= 5) &&
      (punctRatio(text) < lit(0.3)) &&
      meanTokenLen(text).between(2.0, 12.0)

  /** The full quality-feature frame from the native single-pass
    * [[TextStats]] kernel — one byte scan per document instead of six
    * tokenizing expressions; `quality_ok` is exactly [[qualityOk]].
    */
  def qualityFeatures(docs: org.apache.spark.sql.DataFrame, id: String,
                      text: String): org.apache.spark.sql.DataFrame =
    docs.select(col(id), column(TextStats(expression(col(text)))).as("_s"))
      .select(col(id),
        col("_s.n_tokens").as("n_tokens"),
        col("_s.n_subwords").as("n_subwords"),
        col("_s.punct_ratio").as("punct_ratio"),
        col("_s.stopword_ratio").as("stopword_ratio"),
        col("_s.mean_token_len").as("mean_token_len"),
        col("_s.quality_ok").as("quality_ok"))

  /** [[qualityOk]] through the native [[TextStats]] kernel — one byte
    * scan instead of four separate tokenizing expressions.
    */
  def qualityOkFast(text: Column): Column =
    column(TextStats(expression(text))).getField("quality_ok")

  /** PII redaction for training corpora: replace emails, IPv4 addresses,
    * and phone-shaped number runs with typed placeholder tags. Pure
    * regexp_replace chain (codegen'd, scan-local). Patterns are
    * RE2-compatible (no lookarounds, no backrefs) so the identical
    * patterns run in other engines for oracle checks. Order matters:
    * emails first (their local part can look phone-like), then IPs (dotted
    * digit runs would otherwise half-match the phone pattern), then
    * phones.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  // The phone pattern anchors BOTH ends: a captured non-digit prefix
  // (RE2 has no lookbehind) plus a trailing \b — without them the pattern
  // matches 10-13 digits INSIDE any longer digit run (card/order numbers),
  // mangling the id and leaking its leading digits. The prefix is restored
  // in the replacement ($1 in Spark, \1 in the DuckDB oracle).
  val phonePattern = "(^|[^0-9])(\\+?\\d{1,3}[-. ]?)?\\(?\\d{3}\\)?[-. ]?\\d{3}[-. ]?\\d{4}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "$1<PHONE>")

  /** Deterministic dataset splitting: hash-bucket a stable key (md5 of the
    * key's string form — engine-portable, seed-free) into `nBuckets`, and
    * assign train/val/test by bucket range. Pure expressions: the split is
    * reproducible across runs, engines, and repartitioning — the property
    * a training pipeline needs so examples never migrate between splits.
    * 8 hex chars (32 bits) feed the modulus: with 4 chars (16 bits) the
    * pmod over 10k buckets was visibly non-uniform (2^16 % 10^4 ≠ 0 puts
    * 7/65536 mass on low buckets vs 6/65536 on high — up to +7% realized
    * rate); at 32 bits the residual bias is ~2e-6.
    */
  def splitBucket(key: Column, nBuckets: Int = 100): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(nBuckets.toLong))

  def splitAssign(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = splitBucket(key)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** TF-IDF featurization over a document frame — the classic corpus
    * weighting for filtering/retrieval. Smooth idf: ln((N+1)/(df+1)) + 1.
    *
    * Scale shape: term frequencies are one shuffle on (doc, term) with
    * map-side partials; document frequencies aggregate the tf rows (one
    * row per distinct (doc, term) — never re-reading the corpus); the
    * corpus row count rides along as a broadcast one-row frame (no
    * driver-side count). The idf table is vocabulary-sized, and raw-token
    * vocabulary grows with the corpus (Heaps' law: billions of distinct
    * terms over a web-scale corpus — past Spark's broadcast limit and
    * driver memory), so the idf join carries NO forced broadcast hint:
    * AQE broadcasts it at runtime while the measured build side is small
    * and falls back to a shuffle join when it isn't (both behaviors
    * PlanSpec-pinned). Output: (doc, term, tf, tfidf).
    */
  def tfidf(docs: org.apache.spark.sql.DataFrame, id: String, text: String): org.apache.spark.sql.DataFrame = {
    // inert explicit filters keep tf's two consumers (idf aggregation,
    // final join) filter-symmetric — the unigramLmScore/dsirWeights
    // inferred-isnotnull rule. The tokenize scan still runs twice here:
    // the idf branch only counts (doc, term) GROUPS, so aggregate
    // pruning drops the tf count from that branch's partial aggregate
    // and the exchanges canonicalize apart (the OTHER reuse-breaker
    // class). The single-consumer alternative — df as a count window
    // over the tf frame partitioned by term — is skew-UNSAFE at corpus
    // scale (a stopword's window partition is every document containing
    // it, materialized in one task), so the map-side-combined second
    // aggregation is the right trade and the double scan is accepted.
    val tf = docs
      .where(col(id).isNotNull)
      .select(col(id).as("doc"), explode(tokens(col(text))).as("term"))
      .where(col("term").isNotNull)
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df_, "term").crossJoin(broadcast(n))
      .select(col("doc"), col("term"), col("tf"),
        round(col("tf") *
          (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 4)
          .as("tfidf"))
  }

  /** Okapi BM25 (k1 = 1.2, b = 0.75) of every document against a fixed
    * query-term set, in LAYOUT-INVARIANT exact arithmetic so the scores
    * hash-match a DuckDB oracle bit-for-bit (the retrieval-quality
    * signal a CCNet-style pipeline ranks candidate documents with):
    *
    *   - idf(t) = ln((N − df + 0.5)/(df + 0.5)) becomes
    *     detLn(2(N−df)+1) − detLn(2df+1) — integer-argument logs,
    *     bit-identical on every engine ([[detLn]]);
    *   - the tf-saturation term tf·(k1+1)/(tf + k1(1−b) + k1·b·dl/avgdl)
    *     with k1 = 6/5, b = 3/4 and avgdl = tot/N reduces to the exact
    *     integer rational 22·tot·tf / (10·tot·tf + 3·tot + 9·dl·N) —
    *     ONE correctly-rounded IEEE division of exactly-representable
    *     integers (exact while 22·tot·tf < 2^53; a 100 TB deployment
    *     shards the corpus stats or accepts last-ulp float drift there);
    *   - each term's contribution quantizes to integer micro-units
    *     BEFORE the per-doc sum, so the aggregation is an
    *     order-independent BIGINT sum — no float-summation-order hazard.
    *
    * N and dl count docs/tokens with ≥ 1 token (empty docs score no
    * rows). Common terms (df > N/2) contribute negative idf, the
    * standard Robertson behavior — kept, not clamped, and certified.
    * Scale shape: one tokenize pass → (doc, term) tf partials → dl on
    * the doc key; corpus stats are a 1-row broadcast, per-term idf a
    * ≤|Q|-row broadcast; the final groupBy rides the dl join's doc-key
    * exchange. Output: (doc_id, n_hit, bm25_micro).
    */
  def bm25(docs: org.apache.spark.sql.DataFrame, id: String, text: String,
           queryTerms: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val tf = docs
      .where(col(id).isNotNull)
      .select(col(id).as("doc_id"), explode(tokens(col(text))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("long").as("tf"))
      // (review r12) materialize ONCE: tf has four diverging consumers
      // (qtf, dl, and through bm25Score the df and stats aggregations),
      // and the isin pushdown de-canonicalizes the subtrees so
      // ReuseExchange cannot deduplicate them — without this the corpus
      // tokenize scan executed 4x (measured in the AQE-final plan). The
      // same guard the streaming path already carried.
      .localCheckpoint()
    bm25Score(
      tf.where(col("term").isin(queryTerms: _*)),
      tf.groupBy("doc_id").agg(sum("tf").as("dl")))
  }

  /** The BM25 scoring core over pre-computed statistics — ONE source of
    * truth shared by [[bm25]] and the streaming path (which accumulates
    * `qtf`/`dl` across micro-batches; docs are disjoint across batches,
    * so df/N/tot are additive and the converged state reproduces the
    * batch statistics exactly). `qtf` = (doc_id, term, tf) restricted
    * to the query terms; `dl` = (doc_id, dl) over ALL terms.
    */
  def bm25Score(qtf: org.apache.spark.sql.DataFrame,
                dl: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val stats = dl.agg(count(lit(1)).cast("long").as("n"), sum("dl").as("tot"))
    val dfT = qtf.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    val idf = broadcast(dfT.crossJoin(broadcast(stats))
      .withColumn("idf",
        detLn(lit(2L) * (col("n") - col("df")) + lit(1L)) -
          detLn(lit(2L) * col("df") + lit(1L))))
    qtf
      .join(dl, "doc_id")
      .join(idf, "term")
      .withColumn("ratio",
        (lit(22L) * col("tot") * col("tf")).cast("double") /
          (lit(10L) * col("tot") * col("tf") + lit(3L) * col("tot") +
            lit(9L) * col("dl") * col("n")).cast("double"))
      .withColumn("c_micro", floor(col("idf") * col("ratio") * lit(1000000.0)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_hit"), sum("c_micro").as("bm25_micro"))
  }

  /** Atanh-series coefficients 1/3, 1/5, …, 1/31 for [[detLn]] — shared
    * between the Column builder and the oracle-SQL renderer so both engines
    * evaluate literally the same doubles in the same order.
    */
  private val DetLnCoeffs: Seq[Double] = (3 to 31 by 2).map(1.0 / _)

  /** The double nearest ln 2; the decimal literal parses to the identical
    * bit pattern in every engine (decimal→double parsing is correctly
    * rounded everywhere).
    */
  private val Ln2 = 0.6931471805599453

  /** Render a double so any SQL engine parses it back to the same bits:
    * Java's shortest round-trip decimal plus an `e0` exponent marker so
    * DuckDB types it DOUBLE rather than DECIMAL.
    */
  private def sqlDouble(d: Double): String = {
    val s = java.lang.Double.toString(d)
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }

  /** Bit-DETERMINISTIC natural log of a positive integer column — the
    * cross-engine-safe replacement for libm `ln` in oracle-checked
    * arithmetic. Different engines' `ln` disagree in the last ulp, which
    * flips `floor(ln(x)·1e6)` micro-nat quantization when the product
    * straddles an integer (the txt_unigram_lp round-4 hash mismatch).
    * This computes ln(k) from operations that ARE identical everywhere
    * because IEEE-754 requires correctly-rounded +,−,×,÷:
    *
    *   1. exponent e = (number of binary digits of k) − 1, via the exact
    *      string length of `bin(k)` — no logs involved;
    *   2. mantissa m = k / 2^e ∈ [1,2), exact (division by a power of two);
    *   3. ln m = 2t·(1 + t²/3 + t⁴/5 + … + t³⁰/31) with t=(m−1)/(m+1)
    *      (|t| ≤ 1/3, truncation < 1e-16 — below double epsilon), fixed
    *      Horner order;
    *   4. ln k = e·ln2 + ln m with a shared ln2 literal.
    *
    * [[detLnSql]] renders the identical op sequence as ANSI/DuckDB SQL, so
    * Spark and the oracle produce the same 64 bits for every k and a
    * subsequent `floor(·1e6)` can never land on opposite sides of a
    * boundary.
    */
  def detLn(k: Column): Column = {
    val e = (length(bin(k.cast("long"))) - lit(1)).cast("int")
    val m = k.cast("double") / call_function("shiftleft", lit(1L), e).cast("double")
    val t = (m - lit(1.0)) / (m + lit(1.0))
    val u = t * t
    var s: Column = lit(DetLnCoeffs.last)
    DetLnCoeffs.init.reverse.foreach(c => s = lit(c) + u * s)
    val lnm = lit(2.0) * t * (lit(1.0) + u * s)
    e.cast("double") * lit(Ln2) + lnm
  }

  /** Driver-side (plain Scala) port of [[detLn]] for integer k ≥ 1 —
    * literally the same IEEE op sequence, so its doubles are
    * bit-identical to the Column and SQL forms (asserted in
    * FunctionsSpec). For in-memory reference computations: a reference
    * built on libm `math.log` can differ in the last ulp and flip a
    * `floor(·1e6)` micro-nat on the boundary.
    */
  def detLnRef(k: Long): Double = {
    val e = java.lang.Long.toBinaryString(k).length - 1
    val m = k.toDouble / (1L << e).toDouble
    val t = (m - 1.0) / (m + 1.0)
    val u = t * t
    var s = DetLnCoeffs.last
    DetLnCoeffs.init.reverse.foreach(c => s = c + u * s)
    val lnm = 2.0 * t * (1.0 + u * s)
    e.toDouble * Ln2 + lnm
  }

  /** SQL text computing exactly [[detLn]] for integer expression `k` —
    * same literals, same operation order, so the engine-side and
    * oracle-side doubles are bit-identical. `k` is referenced several
    * times; pass a simple column name.
    */
  def detLnSql(k: String): String = {
    val e = s"(length(bin(CAST($k AS BIGINT))) - 1)"
    val m = s"(CAST($k AS DOUBLE) / CAST((CAST(1 AS BIGINT) << $e) AS DOUBLE))"
    val t = s"(($m - 1.0e0) / ($m + 1.0e0))"
    val u = s"($t * $t)"
    var s0 = sqlDouble(DetLnCoeffs.last)
    DetLnCoeffs.init.reverse.foreach(c => s0 = s"${sqlDouble(c)} + $u * ($s0)")
    val lnm = s"2.0e0 * $t * (1.0e0 + $u * ($s0))"
    s"(CAST($e AS DOUBLE) * ${sqlDouble(Ln2)} + $lnm)"
  }

  /** 60·ln2 as one IEEE multiply of the shared literals — the −ln(u)
    * offset for [[weightedSampleScore]]'s 60-bit uniform draw.
    */
  private val Ln2x60 = 60.0 * Ln2

  /** Efraimidis–Spirakis weighted-sampling score, engine-portable and
    * fully deterministic: rank rows by this ASCENDING and take the first
    * N for an exact-N weighted sample WITHOUT replacement — a row's
    * inclusion probability scales with `weight`, and the draw never
    * changes when other rows come or go (the property mixture
    * construction needs: re-running on a grown corpus keeps the
    * previously sampled rows' keys stable).
    *
    * The E-S key is u^(1/w) (keep the N largest) with u uniform; taking
    * −ln gives the equivalent ascending key −ln(u)/w. u derives from a
    * 60-bit md5 prefix (u = (h+1)/2^60 ∈ (0,1]), so
    * −ln(u) = 60·ln2 − ln(h+1) — an INTEGER-argument log, which
    * [[detLn]] computes bit-identically on every engine. The division by
    * `weight` and the micro-unit floor are IEEE-exact, so the score (and
    * therefore the sample) hash-matches the SQL oracle rendered by
    * [[weightedSampleScoreSql]]. `weight` must be positive.
    *
    * Scale shape: pure expressions in the scan + orderBy-limit →
    * TakeOrderedAndProject (per-partition top-N heaps, no global sort).
    */
  def weightedSampleScore(key: Column, weight: Column): Column = {
    val h1 = conv(substring(md5(key.cast("string")), 1, 15), 16, 10)
      .cast("long") + lit(1L)
    floor(((lit(Ln2x60) - detLn(h1)) / weight.cast("double")) * lit(1000000.0))
      .cast("long")
  }

  /** SQL text computing exactly [[weightedSampleScore]] for a 60-bit
    * `h1` column (the md5-prefix-plus-one integer) and a numeric weight
    * column — same literals, same op order, bit-identical doubles.
    */
  def weightedSampleScoreSql(h1: String, w: String): String =
    s"CAST(floor(((${sqlDouble(Ln2x60)} - ${detLnSql(h1)}) / CAST($w AS DOUBLE)) * 1000000.0e0) AS BIGINT)"

  /** Unigram language-model scoring — the perplexity-proxy quality signal
    * (the CCNet-style filter): unigram probabilities train on the corpus
    * itself, and each document scores its mean token negative
    * log-likelihood. Low = common/fluent text; high = rare/garbled.
    *
    * Scale shape: (doc, term) counts in one map-side-combined shuffle
    * (same as [[tfidf]]); the corpus token total rides as a one-row
    * broadcast — the corpus shuffles once, nothing reaches the driver.
    * The unigram table is vocabulary-sized, so (as in [[tfidf]]) its join
    * back onto tf carries NO forced broadcast hint: AQE broadcasts the
    * measured-small case at runtime and shuffle-joins past the threshold
    * — a forced vocabulary broadcast would OOM the driver at web-corpus
    * vocab sizes.
    *
    * Numerics — every step is layout- AND engine-invariant: per-term
    * surprisal ln(N/cnt) = [[detLn]](N) − [[detLn]](cnt) is bit-identical
    * across engines (no libm), quantized to integer MICRO-NATS before the
    * per-doc sum (a double sum depends on partition-merge order; the long
    * sum is exact), and the mean is emitted as integer micro-nats via
    * BIGINT division — no double round anywhere, so the result hashes
    * identically on any engine and any partitioning.
    * Output: (doc, n_tok, avg_nll_micro).
    */
  def unigramLmScore(docs: org.apache.spark.sql.DataFrame, id: String,
                     text: String): org.apache.spark.sql.DataFrame = {
    // both explicit filters are inert (ids are non-null keys, tokens are
    // non-null strings) but REQUIRED for the single-scan plan: the final
    // term join infers isnotnull(term) and a downstream id join infers
    // isnotnull(doc) onto ONE tf consumer's subtree only — without
    // matching filters here the consumers differ by exactly those
    // inferred filters and ReuseExchange cannot deduplicate the
    // tokenize scan (the dsirWeights / dd_span reuse-breaker class).
    // r18 (guide §2.3 — shuffle narrower keys): the model/aggregation
    // key is the 8-byte xxhash64 of the term (the single-pass
    // `token_hashes` kernel), not the term string — the
    // (doc, term) tf shuffle and the model join move one long per token
    // instead of a UTF8 string, and no output column carries a term, so
    // rows are identical absent a 64-bit collision (the hashed-gram-set
    // argument of [[graft.dedup.Dedup.verifyJaccard]]).
    val th = column(TokenHashes(expression(col(text))))
    val tf = docs
      .where(col(id).isNotNull)
      .select(col(id).as("doc"), explode(th).as("term"))
      .where(col("term").isNotNull)
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val uni = tf.groupBy("term").agg(sum("tf").as("cnt"))
    val n = uni.agg(sum("cnt").as("n_total"))
    val w = uni.crossJoin(broadcast(n)).select(col("term"),
      floor((detLn(col("n_total")) - detLn(col("cnt"))) * lit(1000000.0))
        .cast("long").as("w_micro"))
    tf.join(w, "term")
      .groupBy("doc")
      .agg(sum("tf").as("n_tok"),
        sum(col("tf") * col("w_micro")).as("_sum_micro"))
      .select(col("doc"), col("n_tok"),
        expr("_sum_micro div n_tok").as("avg_nll_micro"))
  }

  /** Bigram language-model scoring — the next-order companion to
    * [[unigramLmScore]]: each document's mean conditional surprisal
    * −ln P(w₂|w₁) under the corpus-trained bigram model, in the same
    * layout-invariant integer micro-nat arithmetic. P(w₂|w₁) =
    * cnt(w₁w₂)/cnt₁(w₁) with cnt₁ the occurrences of w₁ as a bigram
    * LEFT token, so nll = detLn(cnt₁) − detLn(cnt₁w₂) ≥ 0 — two
    * integer-argument logs, bit-identical cross-engine; the per-doc
    * mean is BIGINT division (no double rounding at all). Documents
    * with < 2 tokens emit no row. A doc repeating one bigram scores
    * near zero; rare transitions score high — the repetition-aware
    * quality signal the unigram model cannot see.
    *
    * Scale shape: bigrams explode inside the tokenize scan (pairs from
    * one array-HOF, no self-join); (doc,w1,w2) tf partials combine
    * map-side; the model is (w1,w2)-keyed aggregates joined back on the
    * bigram key — the same two-level shape as the unigram LM.
    *
    * r18 (guide §2.3/§2.4): the keys are 8-byte HASHES — w1 = xxhash64
    * of the left token, w2 = xxhash64 over the token-hash pair — so the
    * tf shuffle and the model join move 16 bytes per gram instead of
    * two strings; no output column carries a gram, so rows are
    * identical absent a 64-bit collision (the hashed-gram-set argument
    * of [[graft.dedup.Dedup.verifyJaccard]]; note — ADVICE r18 — that
    * unlike dedup, where a collision merely adds one candidate pair to
    * an exact verify, a collision HERE merges two bigrams' counts and
    * perturbs the output statistic directly; negligible below ~2^32
    * distinct grams, the repo-wide hashed-key policy's bound). Both
    * hash columns derive
    * from ONE token-hash array (one tokenize pass), and the explicit
    * not-null filter after the explode (inert: xxhash64 of a non-null
    * token is non-null) makes the tf2 exchange's two consumers
    * filter-symmetric so ReuseExchange deduplicates the scan — the
    * unigramLmScore/dsirWeights device; without it the r18 plan audit
    * showed the tokenize+explode subtree TWICE under txt_bigram_lp.
    */
  def bigramLmScore(docs: org.apache.spark.sql.DataFrame, id: String,
                    text: String): org.apache.spark.sql.DataFrame = {
    val th = column(TokenHashes(expression(col(text))))
    val bi = docs
      .where(col(id).isNotNull)
      .select(col(id).as("doc"), th.as("ts"))
      .where(size(col("ts")) >= 2)
      .select(col("doc"), explode(arrays_zip(
          slice(col("ts"), lit(1), size(col("ts")) - 1).as("h1"),
          zip_with(slice(col("ts"), lit(1), size(col("ts")) - 1),
            slice(col("ts"), lit(2), size(col("ts")) - 1),
            (a, b) => xxhash64(a, b)).as("h12"))).as("bg"))
      .select(col("doc"), col("bg.h1").as("w1"), col("bg.h12").as("w2"))
      .where(col("w1").isNotNull && col("w2").isNotNull)
    val tf2 = bi.groupBy("doc", "w1", "w2").agg(count(lit(1)).as("tf"))
    val cnt2 = tf2.groupBy("w1", "w2").agg(sum("tf").as("c2"))
    val cnt1 = cnt2.groupBy("w1").agg(sum("c2").as("c1"))
    val w = cnt2.join(cnt1, "w1").select(col("w1"), col("w2"),
      floor((detLn(col("c1")) - detLn(col("c2"))) * lit(1000000.0))
        .cast("long").as("w_micro"))
    tf2.join(w, Seq("w1", "w2"))
      .groupBy("doc")
      .agg(sum("tf").as("n_bigrams"),
        sum(col("tf") * col("w_micro")).as("_sum_micro"))
      .select(col("doc"), col("n_bigrams"),
        expr("_sum_micro div n_bigrams").as("avg_nll2_micro"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): assign every document to the head / middle /
    * tail tercile of its LANGUAGE's perplexity distribution — the
    * curation device CCNet popularized (train on head, inspect middle,
    * drop tail). The score is [[unigramLmScore]]'s layout-invariant
    * integer micro-nat surprisal; token-less documents land in an
    * explicit `empty` bucket, NULL-language documents with tokens in an
    * explicit `unknown` bucket (ADVICE r11 — a null key can never match
    * the per-language threshold join).
    *
    * Thresholds are EXACT per-language discrete terciles computed the
    * scalable way: never a per-language in-memory percentile buffer and
    * never a window over raw documents (one giant language would funnel
    * into a single task). Instead: groupBy (lang, score) with map-side
    * combine → a cumulative-count window over the DISTINCT (lang,
    * score) rows only (tiny) → threshold = min score whose cumulative
    * count crosses n/3 (resp. 2n/3) by integer cross-multiplication
    * `3·cum ≥ n` — no float fractions, so the cut replays bit-exactly
    * in DuckDB. Both thresholds come from ONE aggregation over the
    * cumulative frame (single consumer — the shared-aggregate
    * ReuseExchange rule), and the per-language threshold table is
    * broadcast back onto the scored frame.
    */
  def perplexityBuckets(docs: org.apache.spark.sql.DataFrame, id: String,
                        text: String, lang: String): org.apache.spark.sql.DataFrame = {
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("avg_nll_micro")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val lm = unigramLmScore(docs, id, text).select(col("doc"), col("avg_nll_micro"))
    // ONE inner-join frame feeds BOTH the threshold aggregation and the
    // final bucket projection, and both consumers prune it to subtree
    // shapes whose child exchanges canonicalize equal (lm side → (doc,
    // avg), docs side → (doc, lang) in each), so ReuseExchange keeps the
    // expensive LM chain single-run — the dsirWeights symmetry rule.
    // Token-less (and null-id) docs come from a cheap direct docs scan
    // instead of an anti-join, which would have been a THIRD lm consumer.
    val inner = docs.select(col(id).as("doc"), col(lang).as("lang"))
      .join(lm, Seq("doc"))
    // per-lang total rides a second window over the SAME (lang)-ordered
    // exchange the cumulative sum needs — no separate count aggregation
    val th = inner.groupBy("lang", "avg_nll_micro").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("nl", sum("c").over(wAll))
      .groupBy("lang").agg(
        min(when(col("cum") * 3 >= col("nl"), col("avg_nll_micro"))).as("t1"),
        min(when(col("cum") * 3 >= col("nl") * 2, col("avg_nll_micro"))).as("t2"))
    val bucketed = inner.join(broadcast(th), Seq("lang"), "left")
      .select(col("doc"), col("lang"), col("avg_nll_micro"),
        // (ADVICE r11) a NULL lang can never match the threshold join,
        // so without this clause such docs fell through to 'tail'
        // arbitrarily — route them to an explicit 'unknown' bucket
        // (mirrored in the DuckDB oracle)
        when(col("lang").isNull, lit("unknown"))
          .when(col("avg_nll_micro") <= col("t1"), lit("head"))
          .when(col("avg_nll_micro") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
    // lm contains exactly the docs with ≥1 token; null ids never match
    // the inner join and NULL text yields no tokens (but size() on null
    // is -1/null, never 0 — it needs its own clause), so both route
    // here too — the LEFT-join semantics the oracle states
    val empties = docs
      .where(col(id).isNull || col(text).isNull || size(tokens(col(text))) === 0)
      .select(col(id).as("doc"), col(lang).as("lang"),
        lit(null).cast("long").as("avg_nll_micro"), lit("empty").as("ppl_bucket"))
    bucketed.unionByName(empties)
  }

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169 —
    * Data Selection via Importance Resampling): fit hashed n-gram
    * (unigram + bigram) bag-of-words models on a TARGET corpus and on
    * the RAW pool, then score every raw document with its importance
    * log-weight Σ_grams [ln p̂_target(bucket) − ln p̂_raw(bucket)]
    * (add-one smoothing over `buckets` hash cells). High weight = looks
    * like the target distribution — the principled replacement for
    * hand-tuned quality filters when curating pretraining mixtures.
    *
    * Scale shape: ONE tokenize+explode scan per corpus feeding a
    * map-side-combined (doc, bucket) count shuffle; the raw side's
    * exchange is consumed twice (bucket totals and the per-doc score) —
    * ReuseExchange keeps it one scan. The model is the point at 100 TB:
    * the HASHING TRICK bounds it to ≤ `buckets` rows regardless of
    * corpus size, so — unlike a raw vocabulary ([[tfidf]]'s size-gated
    * join) — broadcasting the log-ratio table is safe BY CONSTRUCTION,
    * and the corpus-total denominators ride a one-row broadcast.
    *
    * Numerics: bit-portable end-to-end — each log quantizes to integer
    * micro-nats via [[detLn]] BEFORE any sum (the [[unigramLmScore]]
    * device), so per-doc weights are exact long sums, layout- and
    * engine-invariant. Output: (doc, n_grams, logw_micro); gram-less
    * docs score (0, 0).
    */
  /** [[dsirWeights]] for the common case where the target corpus is a
    * PREDICATE-SELECTED SLICE of the raw pool (r19 optimization, guide
    * §2.4 / VERDICT r18 #5 — the one untried pp_dsir shape): target
    * membership rides a per-row flag on ONE gram scan, and the
    * per-(doc, bucket) cell frame carries BOTH counts (`tf`, and `tft`
    * over target rows), so the model side needs no second tokenize pass.
    * The cell frame is materialized once with a lazy local checkpoint —
    * without it, column pruning splits the two consumers' copies of the
    * aggregation (the model side reads tft, the scoring side does not)
    * and the gram scan plans twice, exactly the r18 flag-form dead end.
    * Output identical to `dsirWeights(raw, raw.where(isTarget), ...)`
    * (bucket counts aggregate the same rows, just flagged instead of
    * re-scanned; equality pinned in FunctionsSpec). Measured same-JVM
    * A/B at sf0.1: 1.42 → 0.70 s.
    */
  def dsirWeightsTagged(raw: org.apache.spark.sql.DataFrame, isTarget: Column,
                        id: String, text: String,
                        buckets: Int = 8192): org.apache.spark.sql.DataFrame = {
    def q6(c: Column): Column = floor(detLn(c) * lit(1000000.0)).cast("long")
    val nbi = greatest(size(col("toks")) - lit(1), lit(0))
    val cells = raw.where(col(id).isNotNull)
      .select(col(id).as("doc"), isTarget.as("tgt"), tokens(col(text)).as("toks"))
      .select(col("doc"), col("tgt"), explode(concat(col("toks"),
        zip_with(slice(col("toks"), lit(1), nbi), slice(col("toks"), lit(2), nbi),
          (a, b) => concat(a, lit(" "), b)))).as("gram"))
      .select(col("doc"), col("tgt"),
        pmod(xxhash64(col("gram")), lit(buckets.toLong)).as("bkt"))
      .where(col("bkt").isNotNull)
      .groupBy("doc", "bkt")
      .agg(count(lit(1)).as("tf"),
        sum(when(col("tgt"), lit(1L)).otherwise(lit(0L))).as("tft"))
      .localCheckpoint(false)
    val byBkt = cells.groupBy("bkt").agg(sum("tf").as("cr"), sum("tft").as("ct"))
    val lam = byBkt.select(col("bkt"),
      (q6(col("ct") + lit(1L)) - q6(col("cr") + lit(1L))).as("lam_micro"))
    val denom = byBkt.agg(sum("cr").as("n_r"), sum("ct").as("n_t"))
      .select((q6(col("n_r") + lit(buckets.toLong)) -
        q6(col("n_t") + lit(buckets.toLong))).as("const_micro"))
    val perDoc = cells.join(broadcast(lam), Seq("bkt"))
      .groupBy("doc")
      .agg(sum("tf").as("n_grams"), sum(col("tf") * col("lam_micro")).as("_s"))
    raw.where(col(id).isNotNull)
      .select(col(id).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .crossJoin(broadcast(denom))
      .select(col("doc"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        (coalesce(col("_s"), lit(0L)) +
          coalesce(col("n_grams"), lit(0L)) * col("const_micro")).as("logw_micro"))
  }

  def dsirWeights(raw: org.apache.spark.sql.DataFrame,
                  target: org.apache.spark.sql.DataFrame, id: String,
                  text: String, buckets: Int = 8192): org.apache.spark.sql.DataFrame = {
    def gramBuckets(df: org.apache.spark.sql.DataFrame) = {
      val nbi = greatest(size(col("toks")) - lit(1), lit(0))
      // both explicit filters are inert (ids are non-null keys, pmod of
      // xxhash64 is never null) but REQUIRED for the single-scan plan:
      // the final left join infers isnotnull(doc) and the lam inner
      // join infers isnotnull(bkt) onto the per-doc subtree only —
      // without matching filters here the two rtf consumers' subtrees
      // differ by exactly those inferred filters and ReuseExchange
      // cannot deduplicate the gram scan (the InferFilters class of
      // reuse-breakers dd_span hit)
      df.where(col(id).isNotNull)
        .select(col(id).as("doc"), tokens(col(text)).as("toks"))
        .select(col("doc"), explode(concat(col("toks"),
          zip_with(slice(col("toks"), lit(1), nbi), slice(col("toks"), lit(2), nbi),
            (a, b) => concat(a, lit(" "), b)))).as("gram"))
        .select(col("doc"), pmod(xxhash64(col("gram")), lit(buckets.toLong)).as("bkt"))
        .where(col("bkt").isNotNull)
    }
    def q6(c: Column): Column = floor(detLn(c) * lit(1000000.0)).cast("long")

    // raw side: per-(doc, bucket) counts once; bucket totals ride a
    // second (tiny) agg over the same exchange
    val rtf = gramBuckets(raw).groupBy("doc", "bkt").agg(count(lit(1)).as("tf"))
    val cr = rtf.groupBy("bkt").agg(sum("tf").as("cr"))
    val ct = gramBuckets(target).groupBy("bkt").agg(count(lit(1)).as("ct"))

    // per-bucket micro-nat log-ratio — ≤ `buckets` rows by construction
    val lam = cr.join(ct, Seq("bkt"), "full_outer")
      .select(col("bkt"),
        (q6(coalesce(col("ct"), lit(0L)) + lit(1L)) -
          q6(coalesce(col("cr"), lit(0L)) + lit(1L))).as("lam_micro"))
    // smoothing denominators: one row, from the already-aggregated counts
    val denom = cr.agg(sum("cr").as("n_r"))
      .crossJoin(ct.agg(sum("ct").as("n_t")))
      .select((q6(col("n_r") + lit(buckets.toLong)) -
        q6(col("n_t") + lit(buckets.toLong))).as("const_micro"))

    val perDoc = rtf.join(broadcast(lam), Seq("bkt"))
      .groupBy("doc")
      .agg(sum("tf").as("n_grams"), sum(col("tf") * col("lam_micro")).as("_s"))
    // the same null-id filter gramBuckets applies: a null-id raw row
    // must not surface as a (null, 0, n·const) output row the keyed
    // oracle never produces (ADVICE r10) — and the matching filter keeps
    // the inferred-isnotnull symmetry the ReuseExchange note above
    // relies on
    raw.where(col(id).isNotNull)
      .select(col(id).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .crossJoin(broadcast(denom))
      .select(col("doc"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        (coalesce(col("_s"), lit(0L)) +
          coalesce(col("n_grams"), lit(0L)) * col("const_micro")).as("logw_micro"))
  }

  /** Model-based quality filtering — the classifier stage of a training
    * pipeline (fastText / CCNet / DCLM-style): a frozen linear model over
    * hashed token features scores every document, and the keep decision
    * compares the document's MEAN token weight to `thrMilli` milli-units.
    * The comparison is pure integer cross-multiplication
    * (`score_milli >= thrMilli * n_tokens` — no division, no floats), so
    * the decision is bit-identical on any engine and any partitioning;
    * token-less documents are dropped (nothing to score ⇒ no evidence of
    * quality — the dead-letter path, as in [[qualityOk]]'s length gate).
    *
    * Output: (id, n_tokens, score_milli, kept) for every input row.
    *
    * Scale shape: ONE scan, zero shuffles, no model artifact to
    * distribute — the native `linear_score` kernel hashes and scores in
    * a single codegen'd pass ([[graft.functions.LinearScore]]; a real
    * trained weight vector would broadcast O(buckets) longs instead of
    * the functional weight rule, leaving the plan shape unchanged).
    */
  def classifierScore(docs: org.apache.spark.sql.DataFrame, id: String, text: String,
                      buckets: Int = 1 << 20,
                      thrMilli: Long = 0L): org.apache.spark.sql.DataFrame = {
    docs.select(col(id), column(LinearScore(expression(col(text)), buckets)).as("_ls"))
      .select(col(id), col("_ls.n_tokens").as("n_tokens"),
        col("_ls.score_milli").as("score_milli"))
      .withColumn("kept",
        col("n_tokens") > 0 && col("score_milli") >= lit(thrMilli) * col("n_tokens"))
  }

  /** Stratified deterministic sampling: keep each row with a per-stratum
    * rate (e.g. downsample over-represented languages when rebalancing a
    * corpus), decided by the same md5 hash-bucket machinery as
    * [[splitAssign]] — so the sample is reproducible across runs, engines,
    * and partitioning, and a row's fate never changes when other rows
    * come or go. 10k buckets give 0.01% rate resolution. Pure expressions:
    * the filter pushes into the scan.
    */
  def stratifiedKeep(key: Column, stratum: Column, rates: Map[String, Double],
                     defaultRate: Double): Column = {
    // thresholds computed in Scala with round (0.3 * 10000 truncates to
    // 2999 through double column arithmetic — a silent off-by-one)
    def threshold(r: Double): Long = math.round(r * 10000.0)
    val b = splitBucket(key, nBuckets = 10000)
    val limit = rates.foldLeft(lit(threshold(defaultRate))) { case (acc, (s, r)) =>
      when(stratum === s, lit(threshold(r))).otherwise(acc)
    }
    b < limit
  }

  /** Sequence packing for training batches: assign documents to bins of at
    * most ~`tokenBudget` tokens by running prefix sums over a deterministic
    * document order — bin = (tokens before this doc) / budget, so every
    * bin except possibly the last holds ≥ budget tokens' worth of docs and
    * assignment is reproducible across runs/engines. Docs longer than the
    * budget get a bin of their own by construction.
    *
    * TWO-PHASE prefix sum: an `orderBy`-only window would plan as
    * `Exchange SinglePartition` — every row through ONE task. Instead docs
    * group into contiguous id-range BLOCKS, each block computes its LOCAL
    * prefix sums in parallel, and only the per-block totals (≤4096 rows)
    * flow through a single-partition window to become global offsets,
    * broadcast back. Identical bin values, no single-reducer funnel.
    *
    * Block bounds derive from the EXACT min/max of the id column — never
    * from `spark_partition_id` after a range shuffle, whose row→partition
    * mapping depends on sampled bounds and AQE coalescing and thus is not
    * stable across the separate evaluations of the local-cum and offset
    * branches (observed as run-to-run bin flips). Block assignment here is
    * a pure function of the data, so output is bit-identical regardless of
    * input layout, parallelism, or adaptive re-planning. Requires a
    * numeric-orderable id; balance follows the id distribution (dense ids
    * → even blocks), matching what range partitioning would give.
    */
  def packBins(docs: org.apache.spark.sql.DataFrame, id: String, text: String,
               tokenBudget: Int): org.apache.spark.sql.DataFrame =
    packBins(docs, id, text, tokenBudget, None)

  /** [[packBins]] with a custom per-document token counter — e.g. the
    * TRUE BPE subword count ([[Bpe.subwordCountBpe]]) instead of the
    * whitespace estimate: the number that actually bounds a training
    * batch. Defaults to [[wsTokenCount]].
    */
  def packBins(docs: org.apache.spark.sql.DataFrame, id: String, text: String,
               tokenBudget: Int,
               tokenCount: Option[Column]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(id),
      tokenCount.getOrElse(wsTokenCount(col(text))).cast("long").as("n_tok"))
    val bounds = base.agg(min(col(id)).cast("long"), max(col(id)).cast("long")).head()
    if (bounds.isNullAt(0))
      return base.withColumn("bin", lit(null).cast("long")).where(lit(false))
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = hi - lo + 1
    val nBlocks = math.min(4096L, span)
    val blockSpan = (span + nBlocks - 1) / nBlocks
    // the explicit isnotnull is inert (a null _blk means a null id,
    // whose row the inner _blk join below silently drops today anyway)
    // but REQUIRED for the single-scan plan: the join infers
    // isnotnull(_blk) into one consumer's subtree only, which would
    // specialize the window exchange apart from the offsets branch's
    val blocked = base.withColumn("_blk",
      expr(s"(cast(`$id` as bigint) - ${lo}L) div ${blockSpan}L"))
      .where(col("_blk").isNotNull)
    val wLocal = Window.partitionBy("_blk").orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = blocked.withColumn("_local_cum", sum(col("n_tok")).over(wLocal))
      // both consumers below (the offsets aggregation and the final
      // join's left side) hang off THIS window frame, so the token-count
      // expression — expensive when it is the BPE trie kernel
      // (pp_pack_bpe) — evaluates below the single _blk exchange both
      // reuse, instead of once per consumer (the r11 review finding:
      // the old offsets branch aggregated the PRE-window frame, whose
      // partially-aggregated exchange could never canonicalize with the
      // window's)
    // per-block totals: tiny (≤4096 rows), so the ordered window over
    // them is a trivially small single-partition job. The partition key
    // is an always-zero expression of _blk — NON-foldable, so Catalyst
    // can't constant-fold the spec back to empty (a bare literal gets
    // folded away and WindowExec then warns "no partition defined" on
    // every run) — while still hashing every row to one partition.
    val wOff = Window.partitionBy(expr("_blk * 0L")).orderBy(col("_blk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // a block's total == its LAST local cumulative value, so the totals
    // come from the shared window frame (max of the running sum), not a
    // second pass over the raw counts
    val offsets = local.groupBy("_blk").agg(max("_local_cum").as("_btotal"))
      .withColumn("_offset", sum(col("_btotal")).over(wOff) - col("_btotal"))
      .select("_blk", "_offset")
    local.join(broadcast(offsets), "_blk")
      .withColumn("_before", col("_offset") + col("_local_cum") - col("n_tok"))
      // integer `div` (not `/`, which goes through double and loses
      // exactness past 2^53 cumulative tokens)
      .select(col(id), col("n_tok"),
        expr(s"_before div ${tokenBudget.toLong}L").as("bin"))
  }

  /** Length-bucketed batch assignment (r16) — the batching layout
    * sequence-length-sensitive trainers use (bucket docs by length class
    * so a batch's padding waste is bounded, then number batches within
    * each bucket): input must carry `id` and a `bucket` column; output
    * adds `batch_id` = per-bucket ordinal (ordered by id) div batchSize.
    *
    * Scale shape: the per-bucket ordinal uses [[packBins]]'s two-phase
    * parallel prefix device with a COMPOSITE (bucket, block) key — local
    * running counts inside ≤4096 id-range blocks, per-(bucket, block)
    * totals (≤ buckets×4096 rows) prefix-summed on the tiny frame and
    * broadcast back. No global sort, no single-partition window over
    * the data; deterministic for unique ids regardless of layout.
    */
  def bucketBatches(docs: org.apache.spark.sql.DataFrame, id: String,
                    batchSize: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // EXACTLY (id, bucket) — no passthrough columns: the window requires
    // precisely these plus _blk, so BOTH consumers of the window frame
    // (the offsets aggregation and the final join's left side) prune the
    // scan identically, the window's exchange canonicalizes, and
    // ReuseExchange serves the offsets branch from the join side's
    // shuffle files — the packBins single-scan property. A passthrough
    // column (e.g. n_tok) is needed only by the join side, forks the
    // pruning, and doubles the corpus scan + tokenize (measured at
    // sf0.01 before this contract was tightened).
    require(docs.columns.toSet == Set(id, "bucket"),
      s"bucketBatches expects exactly ($id, bucket); got ${docs.columns.mkString(",")}")
    val bounds = docs.agg(min(col(id)).cast("long"), max(col(id)).cast("long")).head()
    if (bounds.isNullAt(0))
      return docs.withColumn("batch_id", lit(null).cast("long")).where(lit(false))
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = hi - lo + 1
    val nBlocks = math.min(4096L, span)
    val blockSpan = (span + nBlocks - 1) / nBlocks
    // BOTH join keys explicitly non-null (the packBins lesson): the
    // final equi-join infers isnotnull(bucket) && isnotnull(_blk) into
    // one consumer's subtree only, which would specialize the window
    // exchange apart from the offsets branch's and break ReuseExchange
    val blocked = docs.withColumn("_blk",
      expr(s"(cast(`$id` as bigint) - ${lo}L) div ${blockSpan}L"))
      .where(col("_blk").isNotNull && col("bucket").isNotNull)
    val wLocal = Window.partitionBy(col("bucket"), col("_blk")).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = blocked.withColumn("_local_cnt", count(lit(1)).over(wLocal))
    // per-(bucket, block) totals are tiny; the per-bucket ordered prefix
    // over them is a bounded-by-construction window
    val wOff = Window.partitionBy(col("bucket")).orderBy(col("_blk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = local.groupBy("bucket", "_blk")
      .agg(max("_local_cnt").as("_btotal"))
      .withColumn("_offset", sum(col("_btotal")).over(wOff) - col("_btotal"))
      .select("bucket", "_blk", "_offset")
    local.join(broadcast(offsets), Seq("bucket", "_blk"))
      .withColumn("batch_id",
        expr(s"(_offset + _local_cnt - 1L) div ${batchSize.toLong}L"))
      .drop("_blk", "_local_cnt", "_offset")
  }

  /** Repetition quality signals (the Gopher-rules family): per document,
    * the fraction of duplicate word 2-/3-grams and the share of the most
    * frequent token — the standard filters for looping/boilerplate text.
    *
    * Scale shape: ONE scan, zero shuffles — the native [[RepetitionStats]]
    * kernel computes all three signals per document in a single pass
    * (a Column form needs an explode → two-level count → doc-key join to
    * get the top-token share without an O(tokens²) lambda). Token-less
    * docs emit no row.
    */
  def repetitionSignals(docs: org.apache.spark.sql.DataFrame, id: String,
                        text: String): org.apache.spark.sql.DataFrame =
    // the n_tokens filter drops token-less docs (no ratios to report)
    docs.select(col(id), column(RepetitionStats(expression(col(text)))).as("_r"))
      .where(col("_r.n_tokens") > 0)
      .select(col(id),
        col("_r.dup2_ratio").as("dup2_ratio"),
        col("_r.dup3_ratio").as("dup3_ratio"),
        col("_r.top_tok_frac").as("top_tok_frac"))

  /** Context-length chunking: split each document into sliding token
    * spans of at most `maxTok` tokens with `overlap` tokens of context
    * carried between consecutive chunks (stride = maxTok − overlap) — how
    * long documents become model-sized training examples. Emits
    * (id, chunk_idx, tok_start, tok_end); every token is covered, the
    * last chunk ends at the document's token count, and all arithmetic is
    * integer (engine-portable, reproducible).
    *
    * Scale shape: pure scan + explode — per-row computation, no shuffle;
    * chunk counts derive from one token count, never a second pass.
    */
  def chunkSpans(docs: org.apache.spark.sql.DataFrame, id: String, text: String,
                 maxTok: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(maxTok > overlap && overlap >= 0, s"need maxTok > overlap >= 0, got $maxTok/$overlap")
    val stride = maxTok - overlap
    docs.select(col(id), wsTokenCount(col(text)).cast("long").as("n_tok"))
      .where(col("n_tok") > 0)
      .withColumn("n_chunks",
        when(col("n_tok") <= maxTok, lit(1L))
          .otherwise(lit(1L) + expr(s"(n_tok - $maxTok + ${stride - 1}) div $stride")))
      .select(col(id), col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col(id), col("chunk_idx"),
        (col("chunk_idx") * stride).as("tok_start"),
        least(col("chunk_idx") * stride + maxTok, col("n_tok")).as("tok_end"))
  }

  /** Balanced mixture sampling: downsample every stratum to the size of the
    * SMALLEST one (the classic "equal parts per source" training mixture),
    * with rates derived FROM THE DATA — per-stratum counts, not hand-tuned
    * constants. Keep decision is the same md5 hash-bucket machinery as
    * [[splitAssign]], so membership is reproducible and row-stable.
    *
    * Scale shape: the per-stratum counts are one map-side-combined
    * aggregation producing a stratum-cardinality-sized table that
    * BROADCASTs back onto the corpus (with the one-row global min riding
    * along) — the corpus itself is filtered in place, never shuffled. The
    * threshold uses integer `div` (exact; a double ratio can flip floor()
    * at exact-divisor boundaries).
    */
  def balancedMix(docs: org.apache.spark.sql.DataFrame, id: String,
                  stratum: String): org.apache.spark.sql.DataFrame =
    weightedMix(docs, id, stratum, weights = Map.empty, defaultWeight = 1L)

  /** Weighted mixture sampling: realize target RATIOS between strata
    * (e.g. "2 parts code to 1 part web") at the largest feasible size —
    * the general data-mixture primitive; [[balancedMix]] is the
    * all-weights-1 case. With integer weights w_s and counts n_s, the
    * max feasible unit count is u = min_s(n_s div w_s); stratum s keeps
    * w_s·u rows via the md5 hash-threshold, so realized sizes sit in the
    * requested ratio and membership is row-stable. All arithmetic is
    * integer `div` (exact, engine-portable).
    *
    * Scale shape: identical to [[balancedMix]] — stratum counts broadcast
    * back with the one-row min riding along; the corpus is filtered in
    * place and never shuffles.
    */
  def weightedMix(docs: org.apache.spark.sql.DataFrame, id: String, stratum: String,
                  weights: Map[String, Long], defaultWeight: Long): org.apache.spark.sql.DataFrame = {
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (s, wt)) =>
      when(col(stratum) === s, lit(wt)).otherwise(acc)
    }
    val counts = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n_s"))
      .withColumn("w", w)
    val minUnits = counts.agg(min(expr("n_s div w")).as("mu"))
    docs.join(broadcast(counts.select(col(stratum), col("n_s"), col("w"))), stratum)
      .crossJoin(broadcast(minUnits))
      .where(splitBucket(col(id), nBuckets = 10000) <
        expr("(w * mu * 10000) div n_s"))
      .select(col(id), col(stratum))
  }

  /** Temperature-scaled mixture sampling — the standard multilingual
    * rebalancer (the "alpha/temperature sampling" of multilingual LM
    * training): stratum s with count n_s keeps rate
    * (n_min/n_s)^(1-1/T), which interpolates between the natural
    * distribution (T=1, keep everything) and a fully balanced mix
    * (T→∞, [[balancedMix]]). Membership is the same md5 hash-threshold
    * as the other mixtures — row-stable, engine-portable.
    *
    * T=2 evaluates via `sqrt`, which IEEE 754 requires to be correctly
    * rounded — so thresholds are bit-identical across engines and the
    * op is fully oracle-checkable; other T go through `pow` (not
    * correctly-rounded by spec, fine for production, not for a
    * hash-compared oracle).
    *
    * Scale shape: identical to [[weightedMix]] — per-stratum counts
    * broadcast back with the one-row min riding along; the corpus is
    * filtered in place and never shuffles.
    */
  def temperatureMix(docs: org.apache.spark.sql.DataFrame, id: String, stratum: String,
                     temperature: Double = 2.0): org.apache.spark.sql.DataFrame = {
    require(temperature >= 1.0, s"temperature must be >= 1, got $temperature")
    val counts = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n_s"))
    val minN = counts.agg(min("n_s").as("min_n"))
    val ratio = col("min_n") / col("n_s") // integral / integral → double in Spark SQL
    val rate =
      if (temperature == 2.0) sqrt(ratio)
      else pow(ratio, 1.0 - 1.0 / temperature)
    docs.join(broadcast(counts), stratum)
      .crossJoin(broadcast(minN))
      .where(splitBucket(col(id), nBuckets = 10000) < floor(lit(10000.0) * rate))
      .select(col(id), col(stratum))
  }

  /** Deterministic distributed shuffle: give every row a stable position
    * (`shard`, `pos`) drawn from a salted md5 of its key — the global
    * reshuffle an epoch of training data needs, reproducible across
    * runs/engines/partitioning.
    *
    * Scale shape: NO global ordering bottleneck. The 32-bit salted hash
    * splits rows into `nShards` shards; each shard sorts independently
    * under a PARTITIONED window (`row_number` over partitionBy(shard)),
    * so parallelism is nShards-wide and no single task sees the full
    * corpus. Readers consume shards in (shard, pos) order — equivalent to
    * one global hash-random order without ever materializing it.
    */
  def deterministicShuffle(docs: org.apache.spark.sql.DataFrame, id: String,
                           nShards: Int, seed: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(col(id).cast("string"), lit(":" + seed))), 1, 8), 16, 10)
      .cast("long")
    docs.select(col(id), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      // ties on the 32-bit hash broken by id — total order, engine-portable
      // (cast: Spark row_number is int, the oracle engine's is bigint)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("h"), col(id))).cast("long"))
      .select(col(id), col("shard"), col("pos"))
  }

  /** Language-ID marker lexicon: per-language marker tokens (n-gram /
    * stopword heuristic) that [[argmaxLangFast]] counts.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "was", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "es", "una", "que"),
    "zh" -> Seq("de5", "shi4", "zhe4", "bu4", "le5", "wo3"))

  /** Language ID through the native [[LangScores]] kernel (one byte scan):
    * the language with the most marker-token hits, ties broken by the
    * alphabetically first language, "und" when nothing matches.
    */
  def argmaxLangFast(text: Column): Column =
    column(LangScores(expression(text))).getField("lang_pred")

  /** Token-distribution Shannon entropy (bits): low entropy flags
    * repetitive/boilerplate text (a handful of tokens dominating), high
    * entropy flags noise — a standard corpus quality signal next to the
    * Gopher repetition rules. Each term p·log2(p) quantizes to integer
    * MICRO-BITS before the sum (same device as [[unigramLmScore]]): the
    * long sum is exact and order-independent, so the result cannot drift
    * with engine fold order or layout — floating sums are not
    * associative. Pure expressions — one scan, no shuffle, no UDF.
    * O(distinct × tokens) per row — fine for natural text where distinct
    * tokens ≪ length.
    *
    * NOT oracle-gated: libm `log2` implementations differ in the last
    * ulp across engines, which flips the micro-bit floor on ~0.4% of
    * docs — layout-invariant within Spark (FunctionsSpec), but not
    * bit-portable. [[tokenDiversity]] is the cross-engine-exact signal.
    */
  def tokenEntropy(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    val uniq = array_sort(array_distinct(toks))
    val termsMicro = transform(uniq, c => {
      val p = size(filter(toks, x => x === c)).cast("double") / n
      floor(p * log2(p) * lit(1000000.0d)).cast("long")
    })
    when(n > 0,
      round(-(aggregate(termsMicro, lit(0L), (acc, t) => acc + t).cast("double") / lit(1000000.0d)), 4))
      .otherwise(lit(0.0d))
  }

  /** Gini-Simpson token diversity: 1 − Σ p_i² — the companion diversity
    * signal to [[tokenEntropy]] (0 = one token repeated, →1 = all tokens
    * distinct; flags boilerplate exactly like low entropy does). Chosen
    * for the ORACLE-GATED query because it needs only rational
    * arithmetic: Σ c_i² is an exact integer, and the single final
    * division of exact integers yields the identical double in every
    * engine — no transcendental whose last ulp can flip a rounding
    * boundary. Row-local pure expressions; one scan, no shuffle.
    *
    * Σ c_i² comes from ONE run-length fold over the sorted token list —
    * O(n log n) per row. (The obvious distinct×filter count is
    * O(distinct·n) per row: ~6× slower on the benchmark corpus.)
    */
  def tokenDiversity(text: Column): Column = {
    val toks = tokens(text)
    // fold state: (previous token, current run length, Σ run² so far);
    // tokens are never empty strings, so "" is a safe initial sentinel
    val sumSq = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("acc")),
      (st, t) => when(t === st.getField("prev"),
          struct(st.getField("prev").as("prev"),
            (st.getField("run") + 1L).as("run"),
            st.getField("acc").as("acc")))
        .otherwise(
          struct(t.as("prev"), lit(1L).as("run"),
            (st.getField("acc") + st.getField("run") * st.getField("run")).as("acc"))),
      st => st.getField("acc") + st.getField("run") * st.getField("run"))
    val n = size(toks).cast("double")
    when(size(toks) > 0,
      round(lit(1.0d) - sumSq.cast("double") / (n * n), 4))
      .otherwise(lit(0.0d))
  }

  /** URL canonicalization for web-corpus dedup: the same page crawled as
    * `HTTPS://Site.COM:443/a/?utm_source=x#top` and `https://site.com/a`
    * must hash identically or exact dedup misses most web duplicates.
    * Policy, applied in this fixed order (RE2-expressible, so an oracle
    * replays it bit-exactly as a regex chain):
    *   1. drop the fragment;
    *   2. lowercase scheme and host; strip the scheme's default port
    *      (`:443` for https, `:80` for http);
    *   3. remove `utm_*` tracking parameters, then repair separator
    *      debris (`&&`→`&`, `?&`→`?`, trailing `?`/`&`);
    *   4. strip the trailing path slash (before `?` or at end).
    * The native single-pass [[CanonicalUrl]] kernel makes a few
    * character passes instead of ten regex-engine scans per row. One
    * scan, no shuffle — composes with [[graft.dedup.Dedup.exact]] on the
    * canonical form.
    */
  def canonicalUrlFast(u: Column): Column = column(CanonicalUrl(expression(u)))

  /** Crawl-HTML text extraction — the FIRST stage of every web-corpus
    * pipeline (WET-style plain text from raw HTML): drop script/style
    * blocks whole (case-insensitive, non-greedy: a script body containing
    * '<' or an upper-case <SCRIPT> tag must not leak into the corpus
    * text), strip the remaining markup, decode the core character
    * entities (after tag removal; `&amp;` last so escaped entities don't
    * double-decode), collapse whitespace. The native single-pass
    * [[HtmlText]] kernel makes four character passes instead of ten
    * regex-engine scans per page; the DuckDB oracle replays the same
    * rules as a regexp_replace chain. Zero shuffles. Real crawls also
    * need block-level boilerplate scoring — that lives in
    * [[graft.dedup.Dedup.boilerplateRemove]] (corpus-frequent lines)
    * downstream of this per-document pass.
    */
  def htmlTextFast(html: Column): Column = column(HtmlText(expression(html)))

  /** Deterministic round-robin interleave of a corpus's strata (the
    * source-mixing order for training: batch i draws document i/K from
    * stratum i%K): each stratum orders its rows by the engine-portable
    * md5 hash (ties → id) IN PARALLEL per-stratum windows, strata get
    * alphabetical indices 0..K-1 from a tiny sorted-distinct frame that
    * broadcasts back, and the global position is `r*K + idx` — an
    * interleaved total order with NO global sort or single-partition
    * funnel anywhere. Unequal stratum sizes simply exhaust early (gaps in
    * `pos` beyond a short stratum's end — consumers read in pos order).
    * Output: (id, stratum, pos).
    */
  def interleave(docs: org.apache.spark.sql.DataFrame, id: String,
                 stratum: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(col(id).cast("string")), 1, 8), 16, 10).cast("long")
    // alphabetical stratum index WITHOUT a window: idx = how many strata
    // sort strictly before this one — a K² self-join over the K-row
    // distinct frame (K = stratum count, tiny by definition), so no
    // single-partition window ever appears in the plan
    val sv = docs.select(col(stratum)).distinct()
    val idx = sv.join(sv.select(col(stratum).as("_lt")),
        col("_lt") < col(stratum), "left")
      .groupBy(col(stratum))
      .agg(count(col("_lt")).as("_idx"))
    val nStrata = idx.groupBy().agg(count(lit(1)).as("_k"))
    docs.select(col(id), col(stratum), h.as("_h"))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col(stratum)).orderBy(col("_h"), col(id))).cast("long") - 1L)
      .join(broadcast(idx), stratum)
      .crossJoin(broadcast(nStrata))
      .select(col(id), col(stratum), (col("_r") * col("_k") + col("_idx")).as("pos"))
  }
}
