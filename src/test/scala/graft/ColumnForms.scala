package graft

import graft.dedup.Dedup
import graft.functions.TextFunctions.{ngramsFromTokens, stopwords, tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Built-in-function (Column) forms of graft's native kernels — the
  * equality witnesses the suites pin each kernel against. They use only
  * Spark's own expressions (mostly higher-order functions, which run
  * interpreted), so they state each kernel's semantics independently of
  * its implementation. Library code never calls them: the kernels are
  * the only path.
  */
object ColumnForms {

  // ---- dedup kernels -------------------------------------------------------

  /** [[graft.functions.ShingleHashes]]: per-doc distinct k-gram hashes
    * (xxhash64 over k consecutive token hashes), token hashes under k
    * tokens. The zip of k shifted slices binds the token-hash array once
    * (HOF lambdas get no common-subexpression elimination).
    */
  def shingleHashes(text: Column, k: Int): Column = {
    val th = transform(tokens(text), t => xxhash64(t))
    val n = size(th)
    array_distinct(when(n >= k, gramsOf(th, k)).otherwise(th))
  }

  /** [[graft.functions.GramHashes]]: the per-position k-gram hash array
    * (no distinct, no short-doc fallback, empty under k tokens).
    */
  def positionalGramHashes(text: Column, k: Int): Column =
    gramsOf(transform(tokens(text), t => xxhash64(t)), k)

  private def gramsOf(th: Column, k: Int): Column = {
    val n = size(th)
    val zipped = arrays_zip(
      (0 until k).map(j => slice(th, lit(j + 1), greatest(n - (k - 1), lit(0))).as(s"t$j")): _*)
    transform(zipped, s => xxhash64((0 until k).map(j => s.getField(s"t$j")): _*))
  }

  /** [[graft.functions.MinHashSig]] as an aggregation: explode the
    * shingle hashes, then k separate min aggregates of the permuted
    * hashes. Output (doc, sig) plus `nset` (the distinct shingle count,
    * [[graft.functions.MinHashSigSize]]'s second field).
    */
  def minhashSigsColumnar(docs: DataFrame, id: String, text: String,
                          numHashes: Int = 64, shingleK: Int = 3): DataFrame = {
    val coeffs = Dedup.minhashCoeffs(numHashes)
    docs.select(col(id).as("doc"), explode(shingleHashes(col(text), shingleK)).as("h"))
      .groupBy("doc")
      .agg(array(coeffs.map { case (a, b) => min(col("h") * a + b) }: _*).as("sig"),
        count(lit(1)).as("nset"))
  }

  /** [[graft.functions.SimHashSig]] as an aggregation over exploded
    * (doc, h) token hashes: 64 conditional-sum aggregates + bit assembly
    * (null hashes contribute nothing).
    */
  def simhashFromCounts(exploded: DataFrame): DataFrame = {
    def bitCount(i: Int) =
      sum(when(col("h").isNull, 0)
        .when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"c$i")
    val counts = exploded
      .groupBy("doc")
      .agg(bitCount(0), (1 until 64).map(bitCount): _*)
    val bits = (0 until 64).map(i => when(col(s"c$i") > 0, lit(1L << i)).otherwise(lit(0L)))
    counts.select(col("doc"), bits.reduce(_ + _).as("sh"))
  }

  /** [[graft.functions.CdcChunks]]: a boundary after every position whose
    * trailing `windowChars`-char rolling hash (31·h + codepoint mod 2^48)
    * is ≡ 0 mod `divisor`.
    */
  def cdcChunksColumns(txt: Column, windowChars: Int, divisor: Int): Column = {
    val mod = 1L << 48
    val n = length(txt)
    val bounds = when(n >= windowChars,
      filter(sequence(lit(windowChars), n), i =>
        pmod(aggregate(sequence(i - (windowChars - 1), i), lit(0L),
          (h, j) => pmod(h * lit(31L) + ascii(txt.substr(j, lit(1))).cast("long"), lit(mod))),
          lit(divisor.toLong)) === 0L))
      .otherwise(array().cast("array<int>"))
    val starts = concat(array(lit(0)), bounds)
    val ends = concat(bounds, array(n))
    zip_with(starts, ends, (s, e) => txt.substr(s + 1, e - s))
  }

  // ---- text kernels --------------------------------------------------------

  /** [[graft.functions.TextStats]]' `n_subwords`: word runs + individual
    * punctuation characters (\w+ | one non-space-non-word char).
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "\\W+"), t => length(t) > 0)) +
      length(regexp_replace(text, "[\\w\\s]", ""))

  /** [[graft.functions.TextStats]]' `stopword_ratio`. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    val stops = filter(toks, t => t.isin(stopwords.map(lit(_)): _*))
    round(size(stops).cast("double") / greatest(size(toks).cast("double"), lit(1.0)), 4)
  }

  /** [[graft.functions.LinearScore]]: struct(n_tokens, score_milli) —
    * per-token xxhash64 into one of `buckets` feature slots, the slot's
    * frozen integer milli-weight summed.
    */
  def linearScoreParts(text: Column, buckets: Int): Column = {
    val th = transform(tokens(text), t => xxhash64(t))
    val w = (c: Column) =>
      (pmod(c, lit(buckets.toLong)) * lit(2654435761L) + lit(104729L)) % lit(2001L) - lit(1000L)
    struct(
      size(th).as("n_tokens"),
      aggregate(th, lit(0L), (acc, h) => acc + w(h)).as("score_milli"))
  }

  /** [[graft.functions.RepetitionStats]] as a frame: explode → two-level
    * count → doc-key join for the top-token share, string gram arrays
    * for the duplicate ratios. Token-less docs emit no row.
    */
  def repetitionSignalsColumnar(docs: DataFrame, id: String, text: String): DataFrame = {
    def dupRatio(g: Column): Column =
      round(lit(1.0) - size(array_distinct(g)).cast("double") /
        greatest(size(g), lit(1)).cast("double"), 4)
    val ratios = docs
      .select(col(id), tokens(col(text)).as("_toks"))
      .select(col(id), ngramsFromTokens(col("_toks"), 2).as("_g2"),
        ngramsFromTokens(col("_toks"), 3).as("_g3"))
      .select(col(id), dupRatio(col("_g2")).as("dup2_ratio"), dupRatio(col("_g3")).as("dup3_ratio"))
    val topTok = docs
      .select(col(id), explode(tokens(col(text))).as("tok"))
      .groupBy(id, "tok").agg(count(lit(1)).as("c"))
      .groupBy(id).agg(round(max("c").cast("double") / sum("c").cast("double"), 4)
        .as("top_tok_frac"))
    ratios.join(topTok, id)
  }

  /** [[graft.functions.LangScores]]' `lang_pred`: most marker-token hits
    * over [[graft.functions.TextFunctions.langMarkers]], ties to the
    * alphabetically first language, "und" when nothing matches.
    */
  def argmaxLang(text: Column): Column = {
    val toks = tokens(text)
    val langs = graft.functions.TextFunctions.langMarkers.keys.toSeq.sorted
    val scored = array(langs.map { l =>
      val markers = graft.functions.TextFunctions.langMarkers(l).map(lit(_))
      struct(size(filter(toks, t => t.isin(markers: _*))).as("s"), lit(l).as("l"))
    }: _*)
    // a strict > keeps the FIRST (alphabetical) language among equal scores
    val best = aggregate(
      scored,
      struct(lit(-1).as("s"), lit("und").as("l")),
      (acc, x) => when(x.getField("s") > acc.getField("s"), x).otherwise(acc))
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }

  /** [[graft.functions.CanonicalUrl]] as the regex chain the DuckDB
    * oracle replays.
    */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val host = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val rest0 = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    val rest1 = regexp_replace(rest0, "([?&])utm_[A-Za-z_]+=[^&]*", "$1")
    val rest2 = regexp_replace(regexp_replace(regexp_replace(
      rest1, "&&+", "&"), "\\?&", "?"), "[?&]+$", "")
    val rest3 = regexp_replace(regexp_replace(rest2, "/\\?", "?"), "/$", "")
    concat(scheme, lit("://"), host, rest3)
  }

  /** [[graft.functions.HtmlText]] as the regexp_replace chain the DuckDB
    * oracle replays (java.util.regex and RE2 both accept inline (?is)
    * and lazy quantifiers).
    */
  def htmlText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val ents = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (pat, rep)) => regexp_replace(c, pat, rep) }
    trim(regexp_replace(ents, "\\s+", " "))
  }

  // ---- vector kernels ------------------------------------------------------

  /** [[graft.functions.CosineSimilarity]], promoted to double. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** [[graft.functions.SrpBucket]]: the ±1 component for dim i of plane
    * p is the parity of xxhash64(p, i); bit p is set when the projection
    * is >= 0.
    */
  def srpBucket(vec: Column, nBits: Int): Column = {
    val bits = (0 until nBits).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (v, i) =>
          v.cast("double") * when(pmod(xxhash64(lit(p), i), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _).cast("int")
  }

  // ---- multimodal kernels --------------------------------------------------

  /** [[graft.functions.CrossModalScore]] behind
    * [[graft.multimodal.Multimodal.textImageScore]]: the two-tower
    * arithmetic as token-hash array + one aggregate() pass per text
    * dimension, same (doc_id, n_tokens, score, kept) frame.
    */
  def textImageScoreColumnForm(paired: DataFrame, buckets: Int = 1 << 20, dim: Int = 8,
                               thrMilli: Long = 0L): DataFrame = {
    val tokCol = transform(tokens(col("text")), t => xxhash64(t))
    // token hash → feature bucket, non-negative (pmod == ((h%K)+K)%K)
    val withTok = paired.withColumn("_b", transform(tokCol, h => pmod(h, lit(buckets.toLong))))
    def wT(x: Column): Column =
      (x * lit(2654435761L) + lit(104729L)) % lit(2001L) - lit(1000L)
    val tCols = (0 until dim).map { dd =>
      aggregate(col("_b"), lit(0L),
        (acc, b) => acc + wT(b * lit(dim.toLong) + lit(dd.toLong))).as(s"_t$dd")
    }
    val iCols = (0 until dim).map { dd =>
      (0 until 64).map { b =>
        val word = if (b < 32) col("dhash_lo") else col("dhash_hi")
        shiftright(word, b % 32).bitwiseAND(lit(1L)) *
          lit(graft.multimodal.Multimodal.crossModalImageWeight(b.toLong * dim + dd))
      }.reduce(_ + _).as(s"_i$dd")
    }
    withTok.select(Seq(col("doc_id"), size(col("_b")).as("n_tokens")) ++ tCols ++ iCols: _*)
      .withColumn("score",
        (0 until dim).map(dd => col(s"_t$dd") * col(s"_i$dd")).reduce(_ + _))
      .withColumn("kept",
        col("n_tokens") > 0 && col("score") >= lit(thrMilli) * col("n_tokens"))
      .select("doc_id", "n_tokens", "score", "kept")
  }
}
