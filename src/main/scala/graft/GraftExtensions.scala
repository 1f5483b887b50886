package graft

import graft.functions.{CanonicalUrl, CdcChunks, CosineSimilarity, CrossModalScore, GramHashes, HtmlText, InterSize, LangScores, LinearScore, MinHashSig, MinHashSigSize, NfcNormalize, NfkcCasefold, RepetitionStats, RollingHash, ShingleHashes, SimHashSig, SrpBucket, TextStats, TokenHashes}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions registering SQL names for graft's native Catalyst
  * expressions, for `spark.sql` users. Wire with
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`. The library's Column
  * and DataFrame APIs do not need them: they build the expressions
  * directly through `org.apache.spark.sql.graft.ColumnBridge`, so they
  * run the same kernels on any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[Expression]) => {
        requireArity("rolling_hash", children, 1)
        RollingHash(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        requireArity("cosine_sim", children, 2)
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("srp_bucket"),
      new ExpressionInfo(classOf[SrpBucket].getName, "srp_bucket"),
      (children: Seq[Expression]) => {
        requireArity("srp_bucket", children, 2)
        SrpBucket(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        requireArity("minhash_sig", children, 3)
        MinHashSig(children.head,
          literalInt("minhash_sig", children(1)),
          literalInt("minhash_sig", children(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig_size"),
      new ExpressionInfo(classOf[MinHashSigSize].getName, "minhash_sig_size"),
      (children: Seq[Expression]) => {
        requireArity("minhash_sig_size", children, 3)
        MinHashSigSize(children.head,
          literalInt("minhash_sig_size", children(1)),
          literalInt("minhash_sig_size", children(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimHashSig].getName, "simhash_sig"),
      (children: Seq[Expression]) => {
        requireArity("simhash_sig", children, 1)
        SimHashSig(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) => {
        requireArity("shingle_hashes", children, 2)
        ShingleHashes(children.head, literalInt("shingle_hashes", children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("gram_hashes"),
      new ExpressionInfo(classOf[GramHashes].getName, "gram_hashes"),
      (children: Seq[Expression]) => {
        requireArity("gram_hashes", children, 2)
        GramHashes(children.head, literalInt("gram_hashes", children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("token_hashes"),
      new ExpressionInfo(classOf[TokenHashes].getName, "token_hashes"),
      (children: Seq[Expression]) => {
        requireArity("token_hashes", children, 1)
        TokenHashes(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("inter_size"),
      new ExpressionInfo(classOf[InterSize].getName, "inter_size"),
      (children: Seq[Expression]) => {
        requireArity("inter_size", children, 2)
        InterSize(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("lang_scores"),
      new ExpressionInfo(classOf[LangScores].getName, "lang_scores"),
      (children: Seq[Expression]) => {
        requireArity("lang_scores", children, 1)
        LangScores(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "text_stats"),
      (children: Seq[Expression]) => {
        requireArity("text_stats", children, 1)
        TextStats(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
      (children: Seq[Expression]) => {
        requireArity("repetition_stats", children, 1)
        RepetitionStats(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("canonical_url"),
      new ExpressionInfo(classOf[CanonicalUrl].getName, "canonical_url"),
      (children: Seq[Expression]) => {
        requireArity("canonical_url", children, 1)
        CanonicalUrl(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => {
        requireArity("nfc_normalize", children, 1)
        NfcNormalize(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("cross_modal_score"),
      new ExpressionInfo(classOf[CrossModalScore].getName, "cross_modal_score"),
      (children: Seq[Expression]) => {
        requireArity("cross_modal_score", children, 5)
        CrossModalScore(children.head, children(1), children(2),
          literalInt("cross_modal_score", children(3)),
          literalInt("cross_modal_score", children(4)))
      }))
    ext.injectFunction((
      FunctionIdentifier("nfkc_casefold"),
      new ExpressionInfo(classOf[NfkcCasefold].getName, "nfkc_casefold"),
      (children: Seq[Expression]) => {
        requireArity("nfkc_casefold", children, 1)
        NfkcCasefold(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("html_text"),
      new ExpressionInfo(classOf[HtmlText].getName, "html_text"),
      (children: Seq[Expression]) => {
        requireArity("html_text", children, 1)
        HtmlText(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (children: Seq[Expression]) => {
        requireArity("cdc_chunks", children, 3)
        CdcChunks(children.head,
          literalInt("cdc_chunks", children(1)),
          literalInt("cdc_chunks", children(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("linear_score"),
      new ExpressionInfo(classOf[LinearScore].getName, "linear_score"),
      (children: Seq[Expression]) => {
        requireArity("linear_score", children, 2)
        LinearScore(children.head, literalInt("linear_score", children(1)))
      }))
  }

  private def requireArity(name: String, children: Seq[Expression], n: Int): Unit =
    if (children.length != n) throw new IllegalArgumentException(
      s"$name expects exactly $n argument(s), got ${children.length}")

  private def literalInt(name: String, e: Expression): Int = e match {
    case l if l.foldable =>
      // integral types only — a Double/Decimal literal silently truncated
      // through intValue() would run with different semantics than asked
      l.eval() match {
        case i: java.lang.Integer => i.intValue()
        case s: java.lang.Short => s.intValue()
        case b: java.lang.Byte => b.intValue()
        case lo: java.lang.Long if lo >= Int.MinValue && lo <= Int.MaxValue => lo.intValue()
        case other => throw new IllegalArgumentException(
          s"$name: expected an int literal, got $other")
      }
    case other => throw new IllegalArgumentException(
      s"$name: expected a literal int, got non-foldable $other")
  }
}
