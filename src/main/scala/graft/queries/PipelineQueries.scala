package graft.queries

import graft.Graft
import graft.ProbeUtil.scratchDir
import graft.ann.Ann
import graft.dedup.Dedup
import graft.functions.{NfcNormalize, NfkcCasefold, TextFunctions}
import graft.graph.Graph
import graft.operators.Aggregates
import graft.multimodal.Multimodal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Large-scale training-data-pipeline operators as driver-checkable
  * queries: deduplication, similarity search, text analysis, multimodal
  * plumbing, sketches. Oracle-checkable where the computation is
  * engine-portable; LSH-derived outputs (hash-function-specific) are
  * covered by property tests in the ScalaTest suite instead.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The dd_ngram_jaccard composition, shared with the scale audit so
    * the audited shape can never drift from the certified one (the
    * Sketches precedent): capped (lang, n_chars/32) blocking →
    * exact 3-gram Jaccard verify at 0.3.
    */
  def ngramJaccard(docs: DataFrame): DataFrame = {
    val pairs = Dedup.blockedPairs(docs, "doc_id",
      Seq("lang" -> col("lang"), "blk" -> (col("n_chars") / lit(32)).cast("int")),
      maxBucket = 1000)
    Dedup.verifyJaccard(pairs, docs, "doc_id", "text", ngram = 3)
      .where(col("jaccard") >= 0.3)
      .select("a", "b", "jaccard")
  }

  /** The oracle-portable verified-pair stage shared by dd_components /
    * dd_resolve / dd_resolve_best / pp_split_grouped: (lang, n_chars)
    * attribute blocking routed through [[Dedup.blockedPairs]] — so the
    * default-on `maxBucket` hot-bucket guard covers EVERY blocking join
    * in the registry, not just dd_ngram_jaccard's (r14 review: the
    * inline `l.join(r, ...)` form bypassed the cap; inert at oracle SFs
    * where (lang, n_chars) blocks are tiny, but the certified plan now
    * carries the same observe-metric'd guard as the production path) —
    * then exact token-Jaccard verify at 0.5.
    */
  def blockedVerifiedPairs(docs: DataFrame): DataFrame = {
    val pairs = Dedup.blockedPairs(docs, "doc_id",
      Seq("lang" -> col("lang"), "n_chars" -> col("n_chars")),
      maxBucket = 1000)
    Dedup.verifyJaccard(pairs, docs, "doc_id", "text")
      .where(col("jaccard") >= 0.5).select("a", "b")
  }

  /** Deterministic synthetic crawl page per doc (the dd_url device: the
    * corpus has no HTML column, so the fixture plants one both engines
    * rebuild identically): head noise, script/style blocks, the doc
    * text, two anchors, and planted character entities.
    */
  private[graft] def syntheticHtml(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><script type=\"text/javascript\">var x = "), pmod(col("doc_id"), lit(9)),
      lit(";</script><style>p {margin:0}</style></head><body><h1>Doc "), col("doc_id"),
      lit("</h1><p>"), col("text"),
      lit("</p><a href=\"https://example"), pmod(col("doc_id"), lit(7)),
      lit(".com/p"), pmod(col("doc_id"), lit(50)),
      lit("\">read "), pmod(col("doc_id"), lit(13)),
      lit("</a> <a href=\"https://example"), pmod(col("doc_id"), lit(3)),
      lit(".org/q"), pmod(col("doc_id"), lit(20)),
      lit("\">more "), pmod(col("doc_id"), lit(11)),
      // r18 (VERDICT r17 #3): real-crawl href variants — single-quoted
      // with attributes around href, and unquoted with whitespace
      // around `=` — so the widened extraction is certified against
      // the forms CommonCrawl actually serves, not just "-quoted.
      lit("</a> <a class=\"nav\" href='https://example"), pmod(col("doc_id"), lit(5)),
      lit(".net/r"), pmod(col("doc_id"), lit(30)),
      lit("' rel=next>next "), pmod(col("doc_id"), lit(9)),
      lit("</a> <a href = https://ex"), pmod(col("doc_id"), lit(2)),
      lit(".io/s"), pmod(col("doc_id"), lit(10)),
      lit(" target=_blank>go "), pmod(col("doc_id"), lit(6)),
      lit("</a><div>&amp; entities &lt;kept&gt; &quot;q&quot;&nbsp;end</div></body></html>"))
      .as("html"))

  /** The shared anchor TAG pattern for txt_html_links/pp_anchor_text/
    * pp_robots (engine-portable: plain RE2-compatible groups, identical
    * in Spark and DuckDB). r18 (VERDICT r17 #3): captures the whole
    * attribute string (group 1) + anchor text (group 2) so hrefs in any
    * real-crawl form — double-quoted, single-quoted, unquoted, extra
    * attributes before/after, whitespace around `=` — are reachable.
    * The href itself is pulled from the SHORT per-anchor attrs string by
    * [[hrefFromAttrs]] (O(attrs) per anchor — NOT the r16 per-anchor
    * full-document re-extraction trap; the doc-level regex still runs
    * exactly twice per document, zipped below the Generate). */
  private val anchorPat = "(?i)<a\\s+([^>]*)>([^<]*)</a>"

  /** href out of one anchor tag's attribute string: double-quoted, then
    * single-quoted, then unquoted token (RFC 1866 NAME-ish), first hit
    * wins; absent/empty href → NULL (the edge drops — a hrefless <a> is
    * an anchor point, not a link). No backreferences, so the identical
    * patterns replay in DuckDB's RE2 oracle. */
  private def hrefFromAttrs(attrs: Column): Column =
    coalesce(
      nullif(regexp_extract(attrs, "(?i)href\\s*=\\s*\"([^\"]*)\"", 1), lit("")),
      nullif(regexp_extract(attrs, "(?i)href\\s*=\\s*'([^']*)'", 1), lit("")),
      nullif(regexp_extract(attrs, "(?i)href\\s*=\\s*([^\\s\"'>]+)", 1), lit("")))

  /** The funnel report rows from ONE (n1, n2, n3) aggregate row —
    * shared by q_funnel_steps and its streaming twin. r18 (guide §2.4):
    * a literal-array explode emits the three (step, step_name, n_users)
    * rows from a single execution of the upstream aggregate; the former
    * three-branch union re-executed the aggregate (and everything under
    * it) once per branch.
    */
  private def funnelCountRows(counts: DataFrame): DataFrame =
    counts.select(explode(array(
        struct(lit(1).as("step"), lit("view").as("step_name"),
          col("n1").as("n_users")),
        struct(lit(2).as("step"), lit("click").as("step_name"),
          col("n2").as("n_users")),
        struct(lit(3).as("step"), lit("purchase").as("step_name"),
          col("n3").as("n_users")))).as("r"))
      .select(col("r.step").as("step"), col("r.step_name").as("step_name"),
        col("r.n_users").as("n_users"))

  /** DAU/WAU derivation over a DEDUPED (user_id, day) presence frame —
    * shared by q_dau_wau and its streaming twin so the two can never
    * drift. r18 (guide §2.4 — remove shuffles outright): ONE bounded
    * 7-way explode feeds ONE aggregation; DAU is a PLAIN conditional
    * count (the input is (user, day)-distinct, so exactly one offset-0
    * row exists per presence cell — no second distinct needed), WAU the
    * one distinct agg, and `dau >= 1` keeps exactly the days the former
    * dau-branch ⋈ wau-branch inner join kept (a day only ever appeared
    * in the dau branch when some user was active ON it). Replaces two
    * scans of the input + two aggregation branches + a join with one
    * scan + one aggregation.
    */
  private def dauWauFromCells(active: DataFrame): DataFrame =
    active.select(col("user_id"), col("day").as("cell_day"),
        explode(sequence(col("day"), col("day") + lit(6))).as("day"))
      .groupBy("day").agg(
        sum(when(col("day") === col("cell_day"), 1L).otherwise(0L)).as("dau"),
        countDistinct("user_id").as("wau"))
      .where(col("dau") >= 1)
      .select("day", "dau", "wau")

  /** The pp_sft_mask example builder, shared with pp_pack_sft: each doc
    * becomes a chat-templated training example (role sentinels around a
    * deterministic user/assistant split) plus the 1-based char span
    * [mask_start, mask_end) of the ASSISTANT content — the only
    * loss-bearing region. One codegen'd scan, no shuffle.
    */
  private def sftExamples(docs: DataFrame): DataFrame = {
    val len = length(col("text"))
    val half = expr("length(text) div 2")
    docs.select(col("doc_id"),
      concat(lit("<|user|>"), expr("substring(text, 1, length(text) div 2)"),
        lit("<|assistant|>"),
        expr("substring(text, length(text) div 2 + 1, length(text))"),
        lit("<|end|>")).as("sft_text"),
      (lit(8) + half + lit(13) + lit(1)).cast("int").as("mask_start"),
      (lit(8) + half + lit(13) + lit(1) + (len - half)).cast("int").as("mask_end"))
  }

  /** The pp_bitext_mine composition, shared with the scale audit:
    * source side (even labels) probes the capped SRP buckets of the
    * target side (odd labels), cosine >= `threshold` candidates, then
    * the mutual-best intersection (forward best target per source AND
    * backward best source per target, ranked on the rounded cosine the
    * pair set carries, id tie-break).
    */
  def bitextMine(emb: DataFrame, threshold: Double = 0.4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Ann.crossCosinePairs(
      emb.where(pmod(col("label"), lit(2)) === 0),
      emb.where(pmod(col("label"), lit(2)) =!= 0),
      "vec_id", "embedding", threshold = threshold, nBits = 6, probeBits = 3,
      maxBucket = 1000)
    val wF = Window.partitionBy("batch_id").orderBy(col("cos").desc, col("corpus_id").asc)
    val wB = Window.partitionBy("corpus_id").orderBy(col("cos").desc, col("batch_id").asc)
    pairs.withColumn("rf", row_number().over(wF))
      .withColumn("rb", row_number().over(wB))
      .where(col("rf") === 1 && col("rb") === 1)
      .select(col("batch_id").as("src_id"), col("corpus_id").as("tgt_id"), col("cos"))
  }

  /** The dd_image_phash composition, shared with the scale audit:
    * decode + dHash once, then a WINDOW count over the hash — NOT a
    * groupBy + self-join, which would run the expensive decode scan
    * twice (the AQE plan builds each join side from its own parquet
    * scan; at 100 TB that doubles the inflate/unfilter cost). The
    * window form is one decode scan + ONE hash exchange; count-over-
    * partition needs no ORDER BY, so no per-row ranking sort semantics
    * enter the result (review r12, caught in the EXPLAIN audit).
    */
  def imagePhash(docs: DataFrame): DataFrame = {
    val h = Multimodal.imageDHash(Multimodal.syntheticPngAssets(docs))
    h.select(col("asset_id"), col("dhash_hi"), col("dhash_lo"),
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("dhash_hi", "dhash_lo")).as("n_dup"))
  }

  /** The dd_image_resolve composition, shared with the scale audit:
    * decode + dHash once, per-cluster canonical (min asset_id) via the
    * same single-exchange window shape as [[imagePhash]].
    */
  def imageResolve(docs: DataFrame): DataFrame = {
    val h = Multimodal.imageDHash(Multimodal.syntheticPngAssets(docs))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("dhash_hi", "dhash_lo")
    h.select(col("asset_id"), min(col("asset_id")).over(w).as("canonical_id"))
      .withColumn("keep", col("asset_id") === col("canonical_id"))
  }

  /** The dHash-replay CTE prefix (g -> h) shared by every image-dedup
    * oracle (dd_image_phash / dd_image_resolve / dd_image_neardup /
    * pp_ingest_media) — ONE definition so the four certifications can
    * never silently drift apart (the AnnOracleSql.assignmentCtes
    * convention; review r12: was four hand-maintained copies).
    */
  private val dhashCtes: String =
    """g AS (
           SELECT d.doc_id AS asset_id, gx.x AS x, gy.y AS y,
                  ((d.doc_id*7 + ((gx.x * (1 + d.n_chars % 13)) // 9) * 3
                    + ((gy.y * (1 + d.doc_id % 11)) // 8) * 5) % 256) AS v0,
                  ((d.doc_id*7 + (((gx.x+1) * (1 + d.n_chars % 13)) // 9) * 3
                    + ((gy.y * (1 + d.doc_id % 11)) // 8) * 5) % 256) AS v1
           FROM documents d,
                UNNEST(generate_series(0, 7)) AS gx(x),
                UNNEST(generate_series(0, 7)) AS gy(y)),
         h AS (
           SELECT asset_id,
                  CAST(SUM(CASE WHEN v1 > v0 AND y*8+x >= 32
                           THEN (CAST(1 AS BIGINT) << (y*8+x-32)) ELSE 0 END) AS BIGINT) AS dhash_hi,
                  CAST(SUM(CASE WHEN v1 > v0 AND y*8+x < 32
                           THEN (CAST(1 AS BIGINT) << (y*8+x)) ELSE 0 END) AS BIGINT) AS dhash_lo
           FROM g GROUP BY 1)"""

  /** The converged media-ingest gate statement shared by pp_ingest_media
    * (streaming chain) and pp_ingest_tfexample_media (tf.Example
    * container arm): new assets (id % 10 = 0) kept iff their dHash is
    * absent from the standing corpus (id % 10 <> 0) AND they are the
    * lowest-id new asset with that hash — ascending micro-batches make
    * first-accepted == keep-min, so the streaming chain's output equals
    * this batch statement.
    */
  private lazy val mediaIngestGateSql: String =
    s"""WITH $dhashCtes,
       corp AS (SELECT DISTINCT dhash_hi, dhash_lo FROM h WHERE asset_id % 10 <> 0),
       newa AS (SELECT * FROM h WHERE asset_id % 10 = 0),
       kept AS (SELECT asset_id, dhash_hi, dhash_lo,
                       row_number() OVER (PARTITION BY dhash_hi, dhash_lo
                                          ORDER BY asset_id) AS r
                FROM newa)
       SELECT k.asset_id, k.dhash_hi, k.dhash_lo
       FROM kept k
       WHERE k.r = 1 AND NOT EXISTS (
         SELECT 1 FROM corp c
         WHERE c.dhash_hi = k.dhash_hi AND c.dhash_lo = k.dhash_lo)"""

  /** The DCT-pHash replay CTE prefix (cos32 → pg → pt → pf → pm → ph)
    * shared by the dd_image_phash_dct / dd_image_neardup_dct oracles:
    * the 32×32 nearest-neighbor grayscale grid from the pixel formula,
    * the SAME fixed-point cosine table the Spark kernel uses (embedded
    * as a VALUES literal from Multimodal.dctCos32 — one constant, two
    * engines), the separable integer DCT, the exact 32nd-smallest AC
    * median (percentile_disc), and the 64-bit threshold packing. Every
    * step is integer arithmetic, so the hash can never drift
    * cross-engine.
    */
  private val phashDctCtes: String = {
    val cosRows = (for (u <- 0 until 8; j <- 0 until 32)
      yield s"($u, $j, ${Multimodal.dctCos32(u)(j)})").mkString(", ")
    s"""cos32(u, j, c) AS (VALUES $cosRows),
         pg AS (
           SELECT d.doc_id AS asset_id, gx.x AS x, gy.y AS y,
                  ((d.doc_id*7 + ((gx.x * (1 + d.n_chars % 13)) // 32) * 3
                    + ((gy.y * (1 + d.doc_id % 11)) // 32) * 5) % 256) AS v
           FROM documents d,
                UNNEST(generate_series(0, 31)) AS gx(x),
                UNNEST(generate_series(0, 31)) AS gy(y)),
         pt AS (SELECT pg.asset_id, c.u AS u, pg.y AS y, SUM(c.c * pg.v) AS s
                FROM pg JOIN cos32 c ON c.j = pg.x GROUP BY 1, 2, 3),
         pf AS (SELECT pt.asset_id, pt.u AS u, c.u AS v, SUM(c.c * pt.s) AS coef
                FROM pt JOIN cos32 c ON c.j = pt.y GROUP BY 1, 2, 3),
         pm AS (SELECT asset_id,
                       percentile_disc(0.5) WITHIN GROUP (ORDER BY coef) AS med
                FROM pf WHERE NOT (u = 0 AND v = 0) GROUP BY 1),
         ph AS (
           SELECT pf.asset_id,
                  CAST(SUM(CASE WHEN pf.coef > pm.med AND pf.u*8+pf.v >= 32
                           THEN (CAST(1 AS BIGINT) << (pf.u*8+pf.v-32)) ELSE 0 END) AS BIGINT) AS phash_hi,
                  CAST(SUM(CASE WHEN pf.coef > pm.med AND pf.u*8+pf.v < 32
                           THEN (CAST(1 AS BIGINT) << (pf.u*8+pf.v)) ELSE 0 END) AS BIGINT) AS phash_lo
           FROM pf JOIN pm USING (asset_id) GROUP BY 1)"""
  }

  /** The dd_image_neardup composition, shared with the scale audit:
    * NEAR-duplicate image pairs in Hamming space without a quadratic
    * scan — exact-dedup to canonical hashes first, then split each
    * 64-bit dHash into 8 bands of 8 bits and equi-join on (band index,
    * band value): the pigeonhole principle guarantees any pair at
    * Hamming distance ≤ 7 agrees on at least one whole band, so the
    * banded candidate set provably CONTAINS every true pair at the
    * ≤ 3 threshold — the same blocking-guarantee structure as the
    * MinHash-LSH text path, in bit space. Exact `bit_count(xor)`
    * re-verifies candidates; pairs dedup on (a, b) since two hashes
    * can share several bands. At 100 TB: canonical hashes are 16
    * bytes/cluster, the join key is 1 byte of band value — no raw
    * image ever reaches the pair join.
    */
  def imageNearDup(docs: DataFrame, maxHam: Int = 3, maxBand: Int = 10000): DataFrame =
    bandedHammingPairs(
      Multimodal.imageDHash(Multimodal.syntheticPngAssets(docs)), "dhash_hi", "dhash_lo",
      maxHam, maxBand)

  /** The banded-Hamming pair join, generalized over ANY (hi, lo) 64-bit
    * fingerprint column pair — dHash, DCT-pHash and the acoustic
    * fingerprint feed the SAME machinery (r12 promised this reuse;
    * r13's dd_image_neardup_dct / dd_audio_neardup collect it). Recall
    * guarantee restated: 8 bands × 8 bits, so any pair at Hamming
    * distance ≤ 7 agrees on ≥ 1 whole band (pigeonhole) — complete
    * through maxHam ≤ 7, verified exactly by bit_count(xor).
    *
    * `maxBand` is the text-LSH path's hot-bucket guard applied to bit
    * space (Dedup.capBuckets, r13): a pathological single-band pileup
    * (one band value shared by k canonical fingerprints produces k²/2
    * candidates) degrades to an OBSERVABLE drop instead of a quadratic
    * stage. Default 10000 sits 10-100x above any expected true near-dup
    * band at these thresholds — the certified corpora never approach it
    * (the cap fires only past the point the banding assumption itself
    * has failed) — so the oracle's full pair scan stays exactly equal.
    * Pass `maxBand = 0` to opt out of the cap entirely (ADVICE r13:
    * provably-complete mode for callers who prefer a quadratic stage
    * over a dropped pair); the `observe` metrics above make a fired cap
    * diagnosable either way.
    */
  def bandedHammingPairs(h: DataFrame, hiCol: String, loCol: String,
                         maxHam: Int, maxBand: Int = 10000): DataFrame = {
    require(maxHam <= 7, s"8 bands of 8 bits only guarantee recall through Hamming 7: $maxHam")
    val canon = h.groupBy(hiCol, loCol).agg(min(col("asset_id")).as("asset_id"))
    val bandVals = array(
      (0 until 4).map(k => shiftright(col(hiCol), 8 * k).bitwiseAND(lit(255L))) ++
      (0 until 4).map(k => shiftright(col(loCol), 8 * k).bitwiseAND(lit(255L))): _*)
    val bands = Dedup.capBuckets(
      canon.select(col("asset_id"), col(hiCol), col(loCol),
        posexplode(bandVals).as(Seq("band_idx", "band_val"))),
      Seq("band_idx", "band_val"), maxBand, "banded_hamming")
    val a = bands.select(col("band_idx"), col("band_val"), col("asset_id").as("asset_a"),
      col(hiCol).as("a_hi"), col(loCol).as("a_lo"))
    val b = bands.select(col("band_idx"), col("band_val"), col("asset_id").as("asset_b"),
      col(hiCol).as("b_hi"), col(loCol).as("b_lo"))
    a.join(b, Seq("band_idx", "band_val"))
      .where(col("asset_a") < col("asset_b"))
      .select("asset_a", "asset_b", "a_hi", "a_lo", "b_hi", "b_lo").distinct()
      .withColumn("hamming",
        expr("bit_count(a_hi ^ b_hi) + bit_count(a_lo ^ b_lo)").cast("int"))
      .where(col("hamming") <= maxHam)
      .select("asset_a", "asset_b", "hamming")
  }

  /** The mm_text_image_score composition, shared with the scale audit
    * (the imageResolve precedent): one corpus scan generates + decodes
    * the image inline (syntheticPngBytes → the certified PNG decode →
    * the shared dHashOf core) while the text rides along, then the
    * frozen two-tower integer model scores each pair — zero exchanges.
    */
  def textImagePairsScore(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val paired = docs
      .select(col("doc_id"), col("n_chars"), col("text"))
      .as[(Long, Long, String)]
      .mapPartitions { it =>
        it.map { case (id, nc, text) =>
          val bytes = Multimodal.syntheticPngBytes(id, nc)
          val (hi, lo) = graft.multimodal.Png.decode(bytes)
            .map(Multimodal.dHashOf).getOrElse((-1L, -1L))
          (id, text, hi, lo)
        }
      }.toDF("doc_id", "text", "dhash_hi", "dhash_lo")
    Multimodal.textImageScore(paired, buckets = 1 << 20, dim = 8, thrMilli = 0L)
  }

  /** The pp_ingest_crossmodal gate, shared with the scale audit: keep
    * only consistency-gate-passing pairs, then decode + dHash the
    * survivors — the pluggable hashFn runMediaIngestStream consumes.
    */
  val crossModalGatedHash: DataFrame => DataFrame = b => {
    val keptIds = textImagePairsScore(b).where(col("kept")).select("doc_id")
    Multimodal.imageDHash(Multimodal.syntheticPngAssets(
      b.join(keptIds, Seq("doc_id"))))
  }

  /** The txt_sentences composition, shared with the scale audit (the
    * imagePhash precedent): deterministic boundary plant (every 5th
    * word gains a terminal '.') over the punctuation-free corpus, then
    * the split on terminal punctuation + EXPLICIT whitespace class
    * ([ \t\n\r] — Java \s includes \x0B, RE2's does not), empties
    * filtered identically on both engines.
    */
  def sentenceSegments(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val punct = concat_ws(" ",
      transform(words, (w, i) =>
        when(pmod(i + 1, lit(5)) === 0, concat(w, lit("."))).otherwise(w)))
    docs.select(col("doc_id"), punct.as("ptext"))
      .select(col("doc_id"),
        posexplode(split(col("ptext"), "[.!?]+[ \\t\\n\\r]+")).as(Seq("sent_idx", "sentence")))
      .where(length(trim(col("sentence"))) > 0)
  }

  /** txt_bpe_32k's frozen (model, oracle SQL) for the LAST corpus dir —
    * training is deterministic, so this is a pure memo; single-entry
    * (review r12) so a JVM iterating many dirs (scale factors, temp
    * fixtures) never retains more than one ~2 MB artifact, the same
    * bound `BpeAutomaton.forMerges`' identity cache keeps.
    */
  private val bpe32kCache =
    new java.util.concurrent.atomic.AtomicReference[(String, (graft.functions.BpeModel, String))]()

  private def bpe32kFor(d: String)(train: => (graft.functions.BpeModel, String)): (graft.functions.BpeModel, String) = {
    val cur = bpe32kCache.get()
    if (cur != null && cur._1 == d) cur._2
    else {
      val v = train
      bpe32kCache.set((d, v))
      v
    }
  }

  /** The fertility entry's frozen 64-merge model for the LAST corpus
    * dir — the same single-entry memo device as [[bpe32kFor]], for the
    * same reason (training is deterministic, so this is a pure memo)
    * plus a bench-honesty one (r13 pair 3): a production tokenizer is
    * frozen ONCE and fertility is scored against it; re-training inside
    * every invocation made the benched time measure the trainer's
    * per-JVM JIT state instead of the scoring operator (the shipped
    * pair's only >2x entry).
    */
  private val fertModelCache =
    new java.util.concurrent.atomic.AtomicReference[(String, graft.functions.BpeModel)]()

  private def fertModelFor(d: String)(train: => graft.functions.BpeModel): graft.functions.BpeModel = {
    val cur = fertModelCache.get()
    if (cur != null && cur._1 == d) cur._2
    else {
      val v = train
      fertModelCache.set((d, v))
      v
    }
  }

  /** The [[fertModelFor]]/[[bpe32kFor]] device generalized (r14, verdict
    * ask #1): EVERY frozen-model trainer in a query body goes through
    * this per-(kind, corpus-dir) memo, so no timed bench body ever
    * re-runs deterministic model training — in production the tokenizer
    * / IVF centroids / PQ codebooks are trained ONCE and the operator
    * under measurement is the scoring/assignment scan, not the
    * trainer's per-JVM JIT state (the r13 shipped pair's only >2×
    * entry, txt_fertility at 4.505×, measured exactly that). Keys name
    * the (trainer, params, input) triple; training must be a pure
    * function of (kind, dir) — every registered site trains on a frame
    * derived only from the corpus dir with literal params. Models are
    * pure data (merge lists, centroid/codebook arrays), so entries are
    * session-independent. Single entry per kind, same retention bound
    * as the BPE memos.
    */
  private val modelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, AnyRef)]()

  private def frozenModel[T <: AnyRef](kind: String, d: String)(train: => T): T = {
    val cur = modelMemo.get(kind)
    if (cur != null && cur._1 == d) cur._2.asInstanceOf[T]
    else {
      val v = train
      modelMemo.put(kind, (d, v))
      v
    }
  }

  val all: Map[String, Q] = Map(
    // ---- deduplication ----------------------------------------------------
    "dd_exact" -> ((s, d) =>
      Dedup.exact(Graft.documents(s, d), "doc_id", "text")),

    "dd_minhash" -> ((s, d) =>
      // MinHash-LSH near-dup candidates (banded; shuffle on band hash).
      // Full hash oracle since r8: MinHashOracleSql replays XXH64 +
      // permutations + banding bit-for-bit in DuckDB (plus brute-force
      // Jaccard recall in DedupSpec). maxBucket is the hot-bucket skew
      // guard, ON in the certified path (measured: a 5000-copy
      // mega-cluster runs 1.4s capped vs 71.4s uncapped at 100×) —
      // 10-100x any expected true near-dup cluster, far above every
      // bucket at test SFs.
      Dedup.minhashPairs(Graft.documents(s, d), "doc_id", "text", threshold = 0.5,
        maxBucket = 1000)),

    "dd_jaccard_verify" -> ((s, d) => {
      // blocking (lang, n_chars) + exact token-set Jaccard verify — the
      // verify stage of candidate-pair dedup, fully oracle-checkable.
      // Blocking join is a CAPPED equi-join on the block key (blockedPairs:
      // window-count guard riding the join's own exchange, inert at test
      // SFs where no block approaches 1000 members).
      val docs = Graft.documents(s, d)
      val pairs = Dedup.blockedPairs(docs, "doc_id",
        Seq("lang" -> col("lang"), "n_chars" -> col("n_chars")), maxBucket = 1000)
      Dedup.verifyJaccard(pairs, docs, "doc_id", "text")
        .where(col("jaccard") >= 0.5)
        .select("a", "b", "jaccard")
    }),

    "dd_ngram_jaccard" -> ((s, d) => {
      // n-gram Jaccard dedup at the MinHash shingling granularity:
      // blocking join + exact 3-gram-set verify, fully oracle-checkable.
      // Blocking is (lang, n_chars div 32): true near-dups differ by a
      // few edited characters, so exact-length blocking can never pair
      // them (measured at sf0.01: max 3-gram Jaccard 0.011 over exact-
      // length pairs vs 5 true pairs >= 0.5 under the 32-char bucket).
      // Block membership grows linearly with corpus size → the self-join
      // would be the suite's one quadratic plan; blockedPairs applies the
      // library's default-ON maxBucket guard (inert at oracle SFs).
      ngramJaccard(Graft.documents(s, d))
    }),

    "dd_containment" -> ((s, d) => {
      // directional n-gram CONTAINMENT dedup (r16) — Broder's asymmetric
      // measure: a short doc quoted whole inside a long one scores tiny
      // Jaccard but containment 1.0 on the short side, the signal quote/
      // subset duplication filters need. Same oracle-portable blocking +
      // capBuckets guard as dd_ngram_jaccard (the production candidate
      // path for containment is chunk-level hashing — dd_chunk — or
      // containment-MinHash sketches; exact-length blocking is the
      // oracle-scale device). Jaccard rides along for contrast.
      val docs = Graft.documents(s, d)
      val pairs = Dedup.blockedPairs(docs, "doc_id",
        Seq("lang" -> col("lang"), "blk" -> (col("n_chars") / lit(32)).cast("int")),
        maxBucket = 1000)
      Dedup.verifyContainment(pairs, docs, "doc_id", "text", ngram = 3)
        .where(greatest(col("cont_ab"), col("cont_ba")) >= 0.3)
        .select("a", "b", "cont_ab", "cont_ba", "jaccard")
    }),

    "dd_containment_sketch" -> ((s, d) => {
      // the containment-MinHash PRODUCTION arm (r17, VERDICT r16 #3) —
      // the candidate path dd_containment's oracle-scale exact-length
      // blocking stood in for: one signature+set-size aggregation pass,
      // banded LSH buckets behind the default-ON capBuckets guard,
      // directional containment ESTIMATED from the agreement Jaccard
      // via Broder's |A∩B| = J/(1+J)·(|A|+|B|), survivors re-verified
      // by the exact gram-set containment stage. Never an all-pairs
      // product at any corpus size; hash-checkable end-to-end via the
      // full XXH64 replay (MinHashOracleSql.containmentSketch).
      // Recall (r18, VERDICT r17 #4 — certified in DedupAnnSpec): with
      // 64 hashes / 16 bands × 4 rows, P(candidate) = 1-(1-J⁴)¹⁶ —
      // steep near J ≈ 0.7, still ≈ 0.97 at J = 2/3; measured 1.0
      // against the exact arm at sf0.01 (the sketch pairs are a strict
      // SUPERSET: LSH buckets reach cross-length pairs the exact arm's
      // (lang, n_chars/32) blocking can't). The documented blind spot:
      // a quote under ~half its container's length has J = |A|/|B| <
      // 0.5 so J⁴ collapses and banding rarely fires — tiny-quote
      // inclusion is dd_chunk / dd_span's regime (chunk-level exact
      // hashing), not the sketch's; lowering estThreshold does NOT fix
      // it (banding, not the estimate, is what gates recall — more
      // bands of fewer rows would, at quadratic candidate cost).
      val docs = Graft.documents(s, d)
      val est = Dedup.containmentSketchPairs(docs, "doc_id", "text",
        estThreshold = 0.3)
      Dedup.verifyContainment(est, docs, "doc_id", "text", ngram = 3)
        .where(greatest(col("cont_ab"), col("cont_ba")) >= 0.3)
        .select("a", "b", "est_jaccard", "est_cont_ab", "est_cont_ba",
          "cont_ab", "cont_ba")
    }),

    "dd_chunk" -> ((s, d) =>
      // content-defined chunk-level (passage) dedup: CCNet-style
      // boilerplate removal — repeated passages keep only their first
      // occurrence corpus-wide. Fully oracle-checkable: the window hash
      // folds mod 2^48 so plain 64-bit arithmetic replays it in DuckDB.
      Dedup.chunkDedup(Graft.documents(s, d), "doc_id", "text")),

    "dd_span" -> ((s, d) =>
      // cross-document duplicated-span fraction (exact-substring signal
      // at word-8-gram granularity, Lee et al. 2022): per doc, the share
      // of its distinct 8-grams occurring in another doc. Pure group-
      // by/join on gram hashes — linear, no self-join, no cap needed.
      // Full oracle: SpanOracleSql chains 8 xxh64 links per position.
      Dedup.spanStats(Graft.documents(s, d), "doc_id", "text", k = 8)),

    "dd_span_remove" -> ((s, d) =>
      // the REMOVAL form of the exact-substring dedup: spans duplicated
      // across docs survive only in the smallest-id doc; other docs keep
      // their unique content with the span cut out (token-normalized
      // rebuild). minSpanTokens = 16 is the Lee-et-al span-length gate
      // (they use 50 at web scale): a shared idiom survives, a
      // duplicated passage goes. Window min/max on the gram + the
      // gaps-and-islands run gate + trailing coverage window — two
      // exchanges, no self-join. Full oracle replay incl. the gate.
      Dedup.spanRemove(Graft.documents(s, d), "doc_id", "text", k = 8,
        minSpanTokens = 16)),

    "dd_boilerplate" -> ((s, d) =>
      // CCNet-style corpus-frequent line removal: positional 2-token
      // pseudo-lines, df across docs, strip lines in ≥5% of the corpus,
      // rejoin in order. Linear scans only: one df hash-agg on the line
      // text, AQE-broadcast flag join (boilerplate set = distribution
      // head, small by construction), one reassembly groupBy. Full
      // oracle: exact string/count replay, line order via ORDER BY idx.
      Dedup.boilerplateRemove(Graft.documents(s, d), "doc_id", "text",
        lineWords = 2, maxDfFrac = 0.05)),

    "dd_embedding" -> ((s, d) =>
      // embedding-cosine near-dup: SRP-bucketed pair generation + cosine
      // verify (bucket join, no all-pairs product); hash-bucket-specific
      // → recall covered in DedupAnnSpec, plumbing via rows-only check.
      // maxBucket caps the base-bucket side only (capped vectors still
      // probe into healthy buckets); inert at test SFs.
      graft.ann.Ann.cosinePairs(Graft.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.25, nBits = 6, probeBits = 3, maxBucket = 1000)),

    "dd_embedding_resolve" -> ((s, d) => {
      // the embedding-modality twin of dd_lsh_resolve: capped SRP-bucket
      // cosine pairs → connected components → drop non-canonical members.
      // Semantic near-dup REMOVAL end-to-end (the representation-level
      // dedup a multimodal corpus runs where text shingles don't apply).
      // Hash-bucket-specific candidates → rows-only; behavior in
      // DedupAnnSpec.
      val emb = Graft.embeddings(s, d)
      val verified = graft.ann.Ann.cosinePairs(emb, "vec_id", "embedding",
          threshold = 0.95, nBits = 6, probeBits = 3, maxBucket = 1000)
        .select("a", "b")
      Dedup.resolve(emb.select("vec_id", "label"), verified, "vec_id")
    }),

    "dd_semantic" -> ((s, d) => {
      // SemDeDup (Abbas et al. 2023): frozen spherical-k-means clusters
      // scope the pair search, keeper = the pair member with LOWER
      // centroid similarity (the paper's rule), ties lower id. The
      // data-adaptive complement to dd_embedding's fixed SRP cells.
      // Freeze-the-model full oracle: the entry trains ONCE and hands
      // the same model to the Spark operator and to AnnOracleSql, which
      // replays assignment + dominance + the cap in DuckDB.
      // threshold 0.35 sits at the synthetic corpus's within-cluster
      // p99 (max pair cos is ~0.49 — no planted near-identical pairs),
      // so the keep decision is non-vacuous AND discriminating here:
      // 75 of 500 vectors drop at sf0.01. A real web corpus runs ~0.95.
      val emb = Graft.embeddings(s, d)
      val model = frozenModel("ivf16", d)(Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16))
      AnnOracleSql.register("dd_semantic",
        AnnOracleSql.semanticDedup(model, threshold = 0.35, maxCluster = 2000))
      Ann.semanticDedup(emb, "vec_id", "embedding", threshold = 0.35,
        model, maxCluster = 2000)
    }),

    "dd_semantic_resolve" -> ((s, d) => {
      // SemDeDup end-to-end: the keep decision applied — survivors with
      // their labels, the removal form every other dedup family also
      // ships (cf. dd_lsh_resolve / dd_embedding_resolve). Same frozen
      // model and oracle machinery as dd_semantic.
      val emb = Graft.embeddings(s, d)
      val model = frozenModel("ivf16", d)(Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16))
      AnnOracleSql.register("dd_semantic_resolve",
        AnnOracleSql.semanticResolve(model, threshold = 0.35, maxCluster = 2000))
      val keep = Ann.semanticDedup(emb, "vec_id", "embedding", threshold = 0.35,
          model, maxCluster = 2000)
        .where(col("keep")).select("vec_id")
      emb.select("vec_id", "label").join(keep, Seq("vec_id"), "left_semi")
    }),

    "ann_incremental" -> ((s, d) => {
      // cross-corpus embedding near-dup (incremental ingestion): vec_id
      // % 10 == 0 stands in for the new batch; bucket-join only,
      // hash-bucket-specific → planted-pair test in DedupAnnSpec,
      // rows-only here
      val emb = Graft.embeddings(s, d)
      graft.ann.Ann.crossCosinePairs(
        emb.where(pmod(col("vec_id"), lit(10)) === 0),
        emb.where(pmod(col("vec_id"), lit(10)) =!= 0),
        "vec_id", "embedding", threshold = 0.25, nBits = 6, probeBits = 3,
        maxBucket = 1000)
    }),

    "pp_bitext_mine" -> ((s, d) => {
      // bitext mining (parallel-corpus alignment for translation data,
      // the CCMatrix/WikiMatrix shape — Schwenk et al. 2019): source-
      // side vectors (even labels stand in for language A) probe the
      // capped SRP buckets of the target side (odd labels = language B),
      // cosine >= 0.4 candidates, then the MUTUAL-best intersection —
      // forward best target per source AND backward best source per
      // target — the filter the mining pipelines use to kill hub
      // false-positives. Full hash oracle: the pair stage is the
      // certified crossCosinePairs replay; both rank windows order on
      // the ROUNDED cosine the pair set carries, id tie-break, and ride
      // the pair set's own partitioning (bounded rows per src/tgt by
      // construction of the capped buckets). Composition shared with
      // the scale audit ([[bitextMine]]).
      bitextMine(Graft.embeddings(s, d), threshold = 0.4)
    }),

    "q_mmr" -> ((s, d) => {
      // MMR diversified retrieval (Carbonell & Goldstein 1998) — the
      // standard RAG re-ranker: from the brute top-20 of query vec 0,
      // greedily pick 5 by lambda*rel - (1-lambda)*max-sim-to-selected
      // (lambda = 0.5), ties to the lower id. Every arithmetic step
      // runs on the ROUNDED cosines the certified brute path emits
      // (one multiply + one subtract + round — identical IEEE ops in
      // DuckDB's replay, and the local round below is scala
      // BigDecimal(double).setScale(6, HALF_UP), the exact function
      // Spark's Round expression applies to DoubleType). Scale shape:
      // MMR by definition reranks a BOUNDED candidate set — the top-k
      // stage is the only corpus scan; the candidate rels and their
      // <= 20x20 pair sims come back in ONE action (r15 ADVICE: was 5
      // sequential 1-row argmax probes = ~9 driver round-trips), and
      // the greedy loop runs locally over <= 400 rows.
      val emb = Graft.embeddings(s, d)
      val q = emb.where(col("vec_id") === 0L)
      val cand = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("vec_id"), col("cos").as("rel"))
      val candVecs = emb.join(cand.select("vec_id"), Seq("vec_id"))
      val sims = Ann.bruteForceTopK(candVecs, candVecs, "vec_id", "embedding", k = 20)
        .select(col("query_id").as("va"), col("neighbor_id").as("vb"), col("cos").as("sim"))
      // ONE bounded action: each candidate's rel rides its sim rows
      // (20 candidates x <= 20 neighbors = <= 400 rows by construction)
      val pairRows = cand.join(sims, cand("vec_id") === sims("va"))
        .select(cand("vec_id"), col("rel"), col("vb"), col("sim"))
        .collect()
      val rel = pairRows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val sim = pairRows.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
      // scala BigDecimal(d) == Spark Round-on-Double semantics
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      var selIds = Vector.empty[Long]
      var selected = Vector.empty[(Int, Long, Double, Double)]
      (1 to 5).foreach { r =>
        val scored = rel.keysIterator.filterNot(selIds.contains).flatMap { id =>
          if (r == 1) Some((id, rel(id), r6(0.5 * rel(id))))
          else {
            // inner-join semantics of the old frame form: a candidate
            // with no sim row to any selected id drops out of this round
            val ss = selIds.flatMap(sid => sim.get((id, sid)))
            if (ss.isEmpty) None
            else Some((id, rel(id), r6(0.5 * rel(id) - 0.5 * ss.max)))
          }
        }.toVector
        val pick = scored.minBy { case (id, _, m) => (-m, id) }
        selIds = selIds :+ pick._1
        selected = selected :+ ((r, pick._1, pick._2, pick._3))
      }
      import s.implicits._
      selected.toDF("rank", "vec_id", "rel", "mmr")
    }),

    "dd_simhash" -> ((s, d) =>
      // SimHash near-dup pairs (chunk-blocked Hamming). Full hash oracle
      // since r9: SimHashOracleSql replays the signatures in DuckDB and
      // compares the all-pairs answer (blocking is pigeonhole-complete,
      // cap inert at oracle scale). maxBucket = hot-bucket skew guard, ON
      // in the certified path; inert at test SFs.
      Dedup.simhashPairs(Graft.documents(s, d), "doc_id", "text", maxHamming = 3,
        maxBucket = 1000)),

    "dd_components" -> ((s, d) => {
      // duplicate-cluster resolution: verified near-dup pairs chain into
      // clusters via iterative min-label propagation (node → canonical
      // min-id). Oracle: DuckDB recursive CTE transitive closure.
      // Pair generation here is the ORACLE-PORTABLE blocking join (DuckDB
      // can replay it); the production-scale path is LSH candidates →
      // components (Dedup.minhashPairs → connectedComponents), which
      // SCALE.md measures as dd_cc_pipeline — blocking on (lang, n_chars)
      // is quadratic per block and only acceptable at oracle scale.
      val docs = Graft.documents(s, d)
      val verified = blockedVerifiedPairs(docs)
      Dedup.connectedComponents(verified)
    }),

    "dd_resolve" -> ((s, d) => {
      // end-to-end near-dup REMOVAL: verified pairs → connected
      // components → drop every non-canonical cluster member; untouched
      // docs pass through via the left-anti join. Pair generation is the
      // oracle-portable blocking join (as in dd_components); the
      // production path feeds LSH candidates instead.
      val docs = Graft.documents(s, d)
      val verified = blockedVerifiedPairs(docs)
      Dedup.resolve(docs, verified, "doc_id").select("doc_id", "lang")
    }),

    "dd_resolve_best" -> ((s, d) => {
      // near-dup removal keeping the highest-QUALITY cluster member: the
      // canonical copy is the most fluent one (lowest unigram-LM mean
      // surprisal, ties → smallest id) — the keep-the-cleanest-copy
      // policy; same oracle-portable pair generation as dd_resolve, and
      // the LM score reuses txt_unigram_lp's layout-invariant arithmetic
      val docs = Graft.documents(s, d)
      val verified = blockedVerifiedPairs(docs)
      val lm = TextFunctions.unigramLmScore(docs, "doc_id", "text")
        .select(col("doc").as("doc_id"), col("avg_nll_micro"))
      val docsScored = docs.join(lm, Seq("doc_id"), "left")
      Dedup.resolveBy(docsScored, verified, "doc_id",
          -coalesce(col("avg_nll_micro"), lit(Long.MaxValue)))
        .select("doc_id", "lang")
    }),

    "dd_lsh_resolve" -> ((s, d) => {
      // the PRODUCTION near-dup removal path end-to-end: capped MinHash-
      // LSH candidates → exact token-Jaccard verify on candidates only →
      // connected components → drop non-canonical members. This is the
      // shape SCALE.md measures as dd_cc_pipeline; dd_resolve is its
      // oracle-portable twin via blocking-join candidates. Full hash
      // oracle since r8: MinHashOracleSql.lshResolve replays LSH →
      // verify → components in DuckDB; end-to-end recall in DedupAnnSpec.
      // r18 (VERDICT r17 #6): ONE signature aggregation per run — the
      // pair plan consumes the sig frame three times (banding + both
      // estimate-join sides), so it persists once (the r17 gram-set
      // discipline) and every consumer is a columnar read-back. Parquet
      // roundtrips the signature longs exactly → identical oracle rows.
      val docs = Graft.documents(s, d)
      val sigDir = scratchDir("lshsigs")
      Dedup.minhashSigs(docs, "doc_id", "text")
        .write.mode("overwrite").parquet(sigDir)
      val cand = Dedup.minhashPairsFromSigs(s.read.parquet(sigDir),
        threshold = 0.5, maxBucket = 1000).select("a", "b")
      val verified = Dedup.verifyJaccard(cand, docs, "doc_id", "text")
        .where(col("jaccard") >= 0.5).select("a", "b")
      Dedup.resolve(docs, verified, "doc_id").select("doc_id", "lang")
    }),

    "dd_minhash_incremental" -> ((s, d) => {
      // cross-corpus NEAR-dup for incremental ingestion: new batch (every
      // 10th doc) LSH-checked against the standing corpus — the fuzzy
      // companion of dd_incremental's exact-hash check. Full hash oracle
      // since r8 (MinHashOracleSql.minhashIncremental) plus the
      // planted-pair recall test in DedupAnnSpec.
      val docs = Graft.documents(s, d)
      Dedup.crossMinhashPairs(
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", threshold = 0.5, maxBucket = 1000)
    }),

    "pp_split_grouped" -> ((s, d) => {
      // leakage-safe splitting: near-dup clusters (from the
      // oracle-portable blocking join, as in dd_resolve; production feeds
      // LSH pairs) land WHOLE in one split — a doc and its paraphrase can
      // never straddle train/test. Fully oracle-checkable.
      val docs = Graft.documents(s, d)
      val verified = blockedVerifiedPairs(docs)
      Dedup.groupAwareSplit(docs, verified, "doc_id")
    }),

    "dd_incremental" -> ((s, d) => {
      // incremental ingestion dedup: every 10th doc stands in for the new
      // batch, the rest for the standing corpus — both sides reduce to
      // content hashes before the anti-join; fully oracle-checkable
      val docs = Graft.documents(s, d)
      Dedup.incremental(
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text")
    }),

    "dd_fuzzy" -> ((s, d) =>
      // fuzzy entity dedup: edit-distance ≤ 1 name pairs via SymSpell
      // deletion-neighborhood blocking (bucket join on variant hash, no
      // cartesian) + exact Levenshtein verify — fully oracle-checkable.
      // maxBucket guards the variant-bucket quadratic cliff; 5000 is
      // unreachable at test SFs (a bucket that size needs 5000 distinct
      // names sharing one deletion variant), so the oracle compare is
      // unaffected while the certified plan carries the guard.
      Dedup.editDistancePairs(Graft.customer(s, d), "c_custkey", "c_name",
        maxDist = 1, maxBucket = 5000)),

    "dd_url" -> ((s, d) => {
      // web-corpus URL dedup: synthesize a messy URL per doc (mixed-case
      // scheme/host, default port, trailing slash, utm_* params, fragment
      // — the corpus has no URL column, so the test plants one
      // deterministically, same device as txt_redact), canonicalize with
      // TextFunctions.canonicalUrlFast, exact-dedup on the canonical form.
      // Pure expressions + one groupBy; fully oracle-checkable (the
      // oracle replays the same canonicalization steps).
      val urls = Graft.documents(s, d).select(col("doc_id"),
        concat(lit("HTTPS://Example"), pmod(col("doc_id"), lit(7)),
          lit(".COM:443/Path"), pmod(col("doc_id"), lit(50)), lit("/"),
          lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(25)),
          lit("&utm_campaign=x#sec"), pmod(col("doc_id"), lit(3))).as("url"))
      urls.select(col("doc_id"), TextFunctions.canonicalUrlFast(col("url")).as("curl"))
        .groupBy("curl")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    "pp_weights" -> ((s, d) => {
      // soft dedup: instead of DROPPING duplicates, every document gets
      // loss weight 1/n_copies (repeated content contributes once in
      // expectation) — the reweighting alternative when removal is too
      // aggressive. One hash groupBy + one hash join back; fully
      // oracle-checkable.
      val docs = Graft.documents(s, d)
      val counts = Dedup.exact(docs, "doc_id", "text")
      docs.select(col("doc_id"), md5(col("text")).as("content_md5"))
        .join(counts.select(col("content_md5"), col("n_copies")), "content_md5")
        .select(col("doc_id"), col("n_copies"),
          round(lit(1.0d) / col("n_copies").cast("double"), 4).as("weight"))
    }),

    "pp_sample_n" -> ((s, d) =>
      // exactly-N uniform deterministic sample (eval-set construction):
      // rank by the engine-portable md5 hash and take the first N — plans
      // as TakeOrderedAndProject (per-partition heaps), reproducible
      // across runs/engines/layouts, and N is exact (hash-threshold
      // sampling only hits N in expectation). Same bounded-draw shape as
      // the ANN trainers' sample stage. Ranks on a RAW 60-bit hash
      // prefix, no modulo: a 32-bit prefix mod 1e9 left residues below
      // 2^32 mod 1e9 with 5 preimages vs 4 elsewhere (~25% selection
      // bias toward low hash values).
      Graft.documents(s, d)
        .select(col("doc_id"), col("lang"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long").as("_h"))
        .orderBy(col("_h"), col("doc_id"))
        .limit(100)
        .select("doc_id", "lang")),

    "pp_sample_weighted" -> ((s, d) =>
      // exact-N WEIGHTED sample without replacement (Efraimidis–Spirakis;
      // mixture construction at a fixed budget): en docs drawn at 4x the
      // rate of other languages, deterministic and engine-portable — the
      // −ln(u)/w key uses detLn so the oracle replays it bit-exactly.
      // TakeOrderedAndProject shape, same as pp_sample_n.
      Graft.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextFunctions.weightedSampleScore(col("doc_id"),
            when(col("lang") === "en", lit(4)).otherwise(lit(1))).as("_sc"))
        .orderBy(col("_sc"), col("doc_id"))
        .limit(100)
        .select("doc_id", "lang")),

    "pp_domain_cap" -> ((s, d) =>
      // head-domain capping (C4/RefinedWeb curation): keep at most
      // maxPer docs per source so head domains can't dominate the mix,
      // the deterministic md5-ranked draw (pp_sample_n's portable hash,
      // ties by id) through topKPerGroup — per-partition pre-rank caps
      // each task's contribution before the single source exchange.
      Aggregates.topKPerGroup(
          Graft.documents(s, d).select(col("source"), col("doc_id"),
            conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
              .cast("long").as("_h")),
          Seq("source"), Seq(col("_h").asc, col("doc_id").asc),
          k = 15, rankCol = "rank_in_source")
        .select(col("source"), col("doc_id"), col("rank_in_source"))),

    "pp_cluster_sample" -> ((s, d) => {
      // cluster-balanced curation sample: frozen spherical-k-means lists
      // scope a per-cluster exactly-nPer draw (md5-ranked, pp_sample_n's
      // portable hash) — cut corpus volume while keeping the embedding
      // space covered (a uniform sample inherits cluster density; this
      // flattens it). Freeze-the-model full oracle: same frozen
      // centroids replay the assignment (ann_ivf's bit-proven machinery)
      // and the ranked draw in DuckDB.
      val emb = Graft.embeddings(s, d)
      val model = frozenModel("ivf16", d)(Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16))
      AnnOracleSql.register("pp_cluster_sample",
        AnnOracleSql.clusterSample(model, nPer = 20))
      Ann.clusterSample(emb, "vec_id", "embedding", nPer = 20, model)
    }),

    "txt_bpe" -> ((s, d) => {
      // learned BPE subword counting — the real version of the
      // n_subwords pre-tokenizer estimate: train 64 merges on the
      // corpus (bounded, deterministic: top-vocabCap word frequencies
      // reach the driver, lexicographic tie-breaks), then count true
      // subwords per doc in ONE codegen'd replace-chain scan. The
      // count that drives context budgeting and packing. Frozen model
      // → full oracle (BpeOracleSql embeds the merges as literals).
      val docs = Graft.documents(s, d)
      val model = frozenModel("bpe64", d)(graft.functions.Bpe.train(docs, "text", nMerges = 64))
      AnnOracleSql.register("txt_bpe", BpeOracleSql.subwordCount(model))
      docs.select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).as("n_words"),
        graft.functions.Bpe.subwordCountBpe(col("text"), model).as("n_subwords"))
    }),

    "txt_bpe_encode" -> ((s, d) => {
      // the tokenizer OUTPUT, not just the budget: per-doc token-id
      // sequences under the frozen model (BpeEncode trie kernel — one
      // codegen'd scan, flat in nMerges), exploded to relational
      // (doc_id, pos, token_id) rows. Vocab = fixed 37-slot base
      // alphabet + distinct merge products (Bpe.vocabIds, the single
      // definition the kernel, chain witness and oracle share).
      val docs = Graft.documents(s, d)
      val model = frozenModel("bpe64", d)(graft.functions.Bpe.train(docs, "text", nMerges = 64))
      AnnOracleSql.register("txt_bpe_encode", BpeOracleSql.encode(model))
      docs.select(col("doc_id"),
          posexplode(graft.functions.Bpe.encodeBpe(col("text"), model))
            .as(Seq("pos", "token_id")))
    }),

    "txt_bpe_decode" -> ((s, d) => {
      // the DETOKENIZER round-trip as a TWO-PATH certification: the
      // Spark side encodes every doc to token ids (trie kernel), maps
      // each id back through the vocab (dense array literal — ids are
      // 0..|V|-1 by construction) and concatenates; the oracle derives
      // the same string DIRECTLY from the raw text
      // (lower + strip \W — exactly the tokenizer's normalization), so
      // any id mapped to the wrong subword, any lost/duplicated token,
      // or any normalization drift breaks the hash. Java and RE2 agree
      // on \W over this ASCII corpus (both default \w = [0-9A-Za-z_]).
      val docs = Graft.documents(s, d)
      val model = frozenModel("bpe64", d)(graft.functions.Bpe.train(docs, "text", nMerges = 64))
      val vocabArr = array(
        graft.functions.Bpe.vocabIds(model).sortBy(_._2).map(t => lit(t._1)): _*)
      docs.where(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          concat_ws("",
            transform(graft.functions.Bpe.encodeBpe(col("text"), model),
              id => element_at(vocabArr, id + 1))).as("decoded"))
        .withColumn("n_norm", length(col("decoded")).cast("long"))
    }),

    "pp_ctx_windows" -> ((s, d) => {
      // training-example construction, the pipeline's last step: each
      // doc's token-id sequence splits into fixed 128-id context
      // windows. ZERO exchanges — the windows build inside the encode
      // scan via array HOFs (sequence → slice → per-window fold), then
      // posexplode; no groupBy, because window membership is derivable
      // per row. Windows surface as exact integer summaries (count,
      // sum, first/last id) — hash-friendly, dimension-independent,
      // and enough to certify the split arithmetic end to end.
      val docs = Graft.documents(s, d)
      val model = frozenModel("bpe64", d)(graft.functions.Bpe.train(docs, "text", nMerges = 64))
      AnnOracleSql.register("pp_ctx_windows",
        BpeOracleSql.ctxWindows(model, ctx = 128))
      val wins = graft.functions.Bpe.ctxWindows(
        graft.functions.Bpe.encodeBpe(col("text"), model), ctx = 128)
      docs.select(col("doc_id"), posexplode(wins).as(Seq("window_idx", "w")))
        .select(col("doc_id"), col("window_idx"),
          col("w.n_ids").as("n_ids"), col("w.ids_sum").as("ids_sum"),
          col("w.first_id").as("first_id"), col("w.last_id").as("last_id"))
    }),

    "txt_bpe_big" -> ((s, d) => {
      // production-size merge list: 1024 merges through the trie-apply
      // kernel (BpeSubwordCount) — apply cost flat in nMerges, which is
      // the point (the replace chain would pay 16x the txt_bpe scans;
      // measured flat in merges). The synthetic corpus's 31-word
      // vocabulary exhausts its pair structure at ~89 merges, so the
      // training/apply text appends the doc-id digit string — the
      // deterministic stand-in for the long-tail token diversity a real
      // corpus has, giving digit-sequence merges real work at every
      // rank (id + a portable pseudo-hash digit token per doc: measured
      // pair capacity ≥ 1300 at the smallest SF). vocabCap 2000 bounds
      // the training draw; the oracle is the same frozen-model chain
      // replay over the same enriched text, CTE-blocked so DuckDB's
      // max_expression_depth (1000) never sees 1024 nested replaces.
      val docs = Graft.documents(s, d)
      val enriched = graft.functions.Bpe.enrichWithIdTokens(docs)
      val model = frozenModel("bpe1024", d)(graft.functions.Bpe.train(enriched, "btext",
        nMerges = 1024, vocabCap = 2000))
      AnnOracleSql.register("txt_bpe_big", BpeOracleSql.subwordCount(model,
        includeWords = false, textSql = graft.functions.Bpe.enrichWithIdTokensSql()))
      enriched.select(col("doc_id"),
        graft.functions.Bpe.subwordCountBpe(col("btext"), model).as("n_subwords"))
    }),

    "txt_bpe_32k" -> ((s, d) => {
      // PRODUCTION-size tokenizer (VERDICT r11 #2): a full 32768-merge
      // model, trained in-process by the r12 incremental trainer
      // (lazy-PQ + affected-words-only updates — the reference
      // full-recount loop is quadratic-ish here) on the 31-digit-token
      // capacity corpus (Bpe.digitTokens(30): ~15.5k distinct long-tail
      // words, measured pair capacity 34.7k ≥ 32768). Certified as
      // ENCODE — every token-id row under the full 32805-entry vocab —
      // with the apply text a 7-token SUBSET of the training corpus:
      // the trie kernel is flat in merges either way (measured at 32k
      // merges on the full-text corpus), while the DuckDB
      // chain oracle pays nMerges scans of the apply text, so the
      // certified text stays a few hundred bytes where the merge list
      // is full production size. 96 replaces/CTE-block clears both
      // measured DuckDB limits (BpeOracleSql doc).
      val docs = Graft.documents(s, d)
      // FROZEN-model cache keyed by corpus dir (r12): training is
      // deterministic — same corpus, same params, same model — so
      // repeated invocations (bench reps, Verify + Explain in one JVM)
      // reuse the trained merges and the generated 1.86 MB oracle SQL
      // instead of re-deriving both every call (measured: 8.3 s/rep →
      // ~2.4 s warm). The BpeAutomaton.forMerges identity-cache
      // precedent, one level up.
      val (model, oracleSql) = bpe32kFor(d) {
        val trainTxt = graft.functions.Bpe.digitTokens(docs, 30)
        val m = graft.functions.Bpe.train(trainTxt, "dtext",
          nMerges = 32768, vocabCap = 50000)
        (m, BpeOracleSql.encode(m,
          textSql = graft.functions.Bpe.digitTokensSql(6), perBlock = 96))
      }
      AnnOracleSql.register("txt_bpe_32k", oracleSql)
      graft.functions.Bpe.digitTokens(docs, 6).select(col("doc_id"),
        posexplode(graft.functions.Bpe.encodeBpe(col("dtext"), model))
          .as(Seq("pos", "token_id")))
    }),

    "pp_delta" -> ((s, d) => {
      // corpus snapshot diff: yesterday = docs without the %10==3
      // slice, today = docs without the %10==7 slice and with every
      // %5==0 doc revised — added/removed/changed per id, unchanged
      // omitted. Both sides hash-reduce before the full-outer join
      // (24-byte rows on the wire, never text).
      val docs = Graft.documents(s, d)
      val old = docs.where(pmod(col("doc_id"), lit(10)) =!= 3)
      val neu = docs.where(pmod(col("doc_id"), lit(10)) =!= 7)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
      Dedup.snapshotDelta(old, neu, "doc_id", "text")
    }),

    "pp_dsir" -> ((s, d) => {
      // DSIR importance resampling (Xie et al. 2023): hashed n-gram LM
      // ratio weights — target = the English slice, raw = the full
      // multilingual pool — then keep the top-100 by weight
      // (deterministic variant of the paper's Gumbel-top-k; the
      // integer micro-nat weights are the contract). orderBy+limit
      // plans as TakeOrderedAndProject (per-partition heaps), and the
      // hashed model is broadcast-safe BY CONSTRUCTION (≤ buckets
      // rows at any corpus size — the hashing trick's point).
      // r19 (VERDICT r18 #5): the target is a predicate slice of the
      // pool, so the TAGGED single-scan form applies — one tokenize
      // scan instead of two, output identical (FunctionsSpec witness +
      // the unchanged oracle).
      val docs = Graft.documents(s, d)
      TextFunctions.dsirWeightsTagged(docs, col("lang") === "en",
          "doc_id", "text", buckets = 8192)
        .orderBy(col("logw_micro").desc, col("doc").asc)
        .limit(100)
        .select(col("doc").as("doc_id"), col("n_grams"), col("logw_micro"))
    }),

    "pp_topquality" -> ((s, d) =>
      // global "best N documents" selection: orderBy+limit plans as
      // TakeOrderedAndProject — per-partition top-N heaps merged on the
      // driver, NEVER a global sort (PlanSpec asserts it). Ranking key is
      // the rational-arithmetic diversity signal with doc_id tiebreak so
      // the cut is total and engine-portable.
      Graft.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.tokenDiversity(col("text")).as("diversity"))
        .orderBy(col("diversity").desc, col("doc_id").asc)
        .limit(25)),

    "pp_histogram" -> ((s, d) =>
      // fixed-width value histogram of event amounts: the skew/
      // distribution check before sizing shuffles; one scan + tiny
      // aggregation, fully oracle-checkable
      graft.operators.Profiling.histogram(
        Graft.eventsStream(s, d), "amount", binWidth = 25.0, nBins = 20)),

    "pp_profile" -> ((s, d) =>
      // one-pass corpus profile: per-column non-null count, exact
      // distinct, string-form min/max + table row count — the
      // look-before-you-leap stats a pipeline reads before choosing
      // broadcast vs shuffle, imputation, bucketing. Fully
      // oracle-checkable (plain counts and lexicographic extremes).
      graft.operators.Profiling.profile(
        Graft.documents(s, d), Seq("doc_id", "lang", "n_chars", "text"))),

    "pp_interleave" -> ((s, d) =>
      // deterministic round-robin source interleave: global training-read
      // order pos = r*K + strataIdx with per-stratum parallel windows —
      // no global sort; fully oracle-checkable
      TextFunctions.interleave(Graft.documents(s, d), "doc_id", "lang")),

    "pp_decontam" -> ((s, d) => {
      // benchmark decontamination: corpus docs sharing an 8-gram with the
      // "eval set" (every 10th doc stands in for a benchmark — a split
      // that provably intersects the corpus's planted near-dup clusters);
      // eval grams broadcast, corpus never shuffles
      val docs = Graft.documents(s, d)
      Dedup.contaminatedIds(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", n = 8)
    }),

    "pp_decontam_spans" -> ((s, d) => {
      // SURGICAL decontamination: where pp_decontam drops whole
      // contaminated docs, this removes exactly the eval-set spans
      // (≥16 tokens via the span gate) and keeps the rest of the doc.
      // Same splits as pp_decontam; eval grams reduce to a DISTINCT
      // hash set (benchmark-sized → AQE broadcast), corpus never
      // shuffles on the gram — its one exchange is the shared doc-id
      // hash of the gate/coverage/rebuild windows.
      val docs = Graft.documents(s, d)
      Dedup.decontamSpans(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", k = 8, minSpanTokens = 16)
    }),

    "pp_split" -> ((s, d) =>
      // deterministic train/val/test assignment: md5-bucketed key, stable
      // across runs/engines/partitioning
      Graft.documents(s, d).select(
        col("doc_id"),
        TextFunctions.splitAssign(col("doc_id")).as("split"))),

    "pp_stratified" -> ((s, d) =>
      // corpus rebalancing: deterministic per-language downsampling
      // (keep 30% of 'en', 80% of everything else) via hash buckets —
      // reproducible and engine-portable, so fully oracle-checkable
      Graft.documents(s, d)
        .where(TextFunctions.stratifiedKeep(col("doc_id"), col("lang"),
          Map("en" -> 0.3), defaultRate = 0.8))
        .select("doc_id", "lang")),

    "pp_pack" -> ((s, d) =>
      // sequence packing: prefix-sum token binning at a 512-token budget,
      // deterministic by doc_id order — fully oracle-expressible
      TextFunctions.packBins(Graft.documents(s, d), "doc_id", "text", tokenBudget = 512)),

    "pp_length_buckets" -> ((s, d) => {
      // length-bucketed batch assignment (r16) — the layout that bounds
      // a batch's padding waste when sequence lengths vary 100×: docs
      // fall into 5 token-length classes, each class numbers batches of
      // 8 by doc_id order. Per-bucket ordinals via the packBins
      // two-phase prefix device on a COMPOSITE (bucket, block) key — no
      // global sort or single-partition window anywhere; deterministic
      // (unique doc_id order) under any layout.
      val nTok = TextFunctions.wsTokenCount(col("text")).cast("long")
      val base = Graft.documents(s, d).select(col("doc_id"),
        when(nTok < 32, 0L).when(nTok < 64, 1L)
          .when(nTok < 128, 2L).when(nTok < 256, 3L)
          .otherwise(4L).as("bucket"))
      TextFunctions.bucketBatches(base, "doc_id", batchSize = 8)
        .select("doc_id", "bucket", "batch_id")
    }),

    "pp_anchor_text" -> ((s, d) => {
      // anchor-text aggregation (r16) — the classic web-graph document
      // signal (anchors pointing AT a page describe it better than the
      // page itself): from the crawl-link edges, per target href the
      // in-link count, distinct linking docs, and the dominant anchor
      // text (most frequent, alphabetical tie-break). Scale shape: the
      // EXPENSIVE part — the page scan + regex extraction — runs ONCE,
      // feeding a single (href, anchor, doc_id) cell aggregation whose
      // exchange both rollups reuse (identical subplans below the
      // exchange — the cells' grouping keys can't be pruned apart, so
      // ReuseExchange fires; r16 plan audit: the two-consumer `links`
      // form scanned and re-extracted the corpus twice). Both capture
      // groups are zipped BEFORE the explode (r17, the r16 weak mark):
      // the earlier post-explode `element_at(regexp_extract_all(html,
      // pat, 2), pos+1)` re-ran the full-document regex once per anchor
      // — O(anchors × doc_len) on a real crawl; arrays_zip inside the
      // Generate's child makes it two passes per DOCUMENT, total.
      // Downstream rollups shuffle only the narrow cell frame; the
      // dominant-anchor window partitions BY HREF (bounded per key).
      // No global funnel.
      import org.apache.spark.sql.expressions.Window
      val links = syntheticHtml(Graft.documents(s, d))
        .select(col("doc_id"),
          explode(arrays_zip(
            regexp_extract_all(col("html"), lit(anchorPat), lit(1)).as("attrs"),
            regexp_extract_all(col("html"), lit(anchorPat), lit(2)).as("anchor"))))
        // href resolves from the SHORT per-anchor attrs string (r18:
        // quoted/unquoted forms) — O(attrs) per anchor, not the
        // full-document re-extraction the r17 pin guards against
        .select(col("doc_id"), hrefFromAttrs(col("col.attrs")).as("href"),
          col("col.anchor").as("anchor"))
        .where(col("href").isNotNull)
      val cells = links.groupBy("href", "anchor", "doc_id").agg(count(lit(1)).as("k"))
      val perAnchor = cells.groupBy("href", "anchor").agg(sum("k").as("cnt"))
      val w = Window.partitionBy("href")
        .orderBy(col("cnt").desc, col("anchor").asc)
      val top = perAnchor.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("href"), col("anchor").as("top_anchor"), col("cnt").as("top_cnt"))
      val totals = cells.groupBy("href")
        .agg(sum(col("k")).as("n_links"),
          countDistinct(col("doc_id")).as("n_docs"))
      totals.join(top, Seq("href"))
        .select("href", "n_links", "n_docs", "top_anchor", "top_cnt")
    }),

    "pp_datacard" -> ((s, d) => {
      // data-card corpus summary (r16) — the per-source table every
      // training-data release publishes (docs, languages, chars, corpus
      // share): one aggregation exchange; the corpus share rides a
      // window over the ALREADY-AGGREGATED per-source frame (rows
      // bounded by the source vocabulary, not the data) in exact
      // basis-point integer arithmetic.
      import org.apache.spark.sql.expressions.Window
      val per = Graft.documents(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"))
      // non-foldable always-zero partition key (the packBins wOff device)
      val wAll = Window.partitionBy(expr("n_docs * 0L"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      per.withColumn("_total", sum(col("n_docs")).over(wAll))
        .withColumn("share_bp", expr("(n_docs * 10000L) div _total"))
        .select("source", "n_docs", "n_langs", "total_chars", "share_bp")
    }),

    "pp_datacard_streaming" -> ((s, d) => {
      // the data card maintained AT INGEST by the real streaming engine:
      // complete-mode per-source aggregation through micro-batches with
      // a state-cleanup + from-scratch recompute round (the house
      // runWithStateCleanup discipline), the corpus-share window applied
      // POST-convergence on the K-row result (windows over streaming
      // aggregates are unsupported by design — and unnecessary: the
      // share is a projection of the converged card). Shares
      // pp_datacard's oracle verbatim.
      import org.apache.spark.sql.expressions.Window
      // the STREAMING state is one (source, lang) aggregation — distinct
      // counts and chained aggregations are unsupported on streams by
      // design, and unnecessary: the per-language cells ARE the card's
      // sufficient statistic; the per-source rollup is a projection of
      // the converged state
      val cells = graft.streaming.StreamingQueries.runWithStateCleanup(
        s, d, "documents", "pp_datacard_stream",
        df => df.groupBy("source", "lang")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars")))
      val converged = cells.groupBy("source")
        .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_langs"),
          sum(col("chars")).as("total_chars"))
      val wAll = Window.partitionBy(expr("n_docs * 0L"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      converged.withColumn("_total", sum(col("n_docs")).over(wAll))
        .withColumn("share_bp", expr("(n_docs * 10000L) div _total"))
        .select("source", "n_docs", "n_langs", "total_chars", "share_bp")
    }),

    "pp_mixture_epochs" -> ((s, d) => {
      // mixture epoch planning (r16) — the repeat-factor table a
      // uniform-target training mix implies (the Llama-recipe device:
      // small domains get UPSAMPLED — trained for multiple epochs — to
      // hit their share of the token budget): per source the available
      // whitespace tokens, the uniform per-source target (budget div K),
      // and epochs = ceil(target / available) in exact integer
      // arithmetic. One aggregation exchange; K and the targets ride a
      // window over the already-aggregated source-vocabulary-bounded
      // frame (the pp_datacard device).
      import org.apache.spark.sql.expressions.Window
      val budget = 1000000L
      val per = Graft.documents(s, d).groupBy("source")
        .agg(sum(TextFunctions.wsTokenCount(col("text")).cast("long")).as("avail_toks"))
      val wAll = Window.partitionBy(expr("avail_toks * 0L"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      per.withColumn("_k", count(lit(1)).over(wAll))
        .withColumn("target_toks", expr(s"${budget}L div _k"))
        .withColumn("epochs", expr("(target_toks + avail_toks - 1L) div avail_toks"))
        .select("source", "avail_toks", "target_toks", "epochs")
    }),

    "pp_pack_bpe" -> ((s, d) => {
      // tokenizer-aware sequence packing: the bins budget by the TRUE
      // BPE subword count (trie kernel) instead of the whitespace
      // estimate — the number that actually bounds a training batch.
      // Same two-phase parallel prefix sum as pp_pack; frozen model →
      // full oracle (the chain replay feeds the identical cumulative
      // binning arithmetic).
      val docs = Graft.documents(s, d)
      val model = frozenModel("bpe64", d)(graft.functions.Bpe.train(docs, "text", nMerges = 64))
      AnnOracleSql.register("pp_pack_bpe", BpeOracleSql.packBins(model, budget = 512))
      TextFunctions.packBins(docs, "doc_id", "text", tokenBudget = 512,
        Some(graft.functions.Bpe.subwordCountBpe(col("text"), model)))
    }),

    "pp_pack_mm" -> ((s, d) => {
      // MULTIMODAL sequence packing: each doc's budget is its true BPE
      // subword count PLUS its image's patch-token count — vision
      // tokens share the context window with text tokens (the
      // vision-LM training-batch arithmetic). The patch count is
      // ceil(w·h / 4) over the SAME image dims the PNG fixture
      // certifies (w = 1 + n_chars % 13, h = 1 + doc_id % 11, 2×2
      // patches), so the oracle replays both terms exactly. Same
      // two-phase parallel prefix sum as pp_pack.
      val docs = Graft.documents(s, d)
      val model = frozenModel("bpe64", d)(graft.functions.Bpe.train(docs, "text", nMerges = 64))
      AnnOracleSql.register("pp_pack_mm", BpeOracleSql.packBinsMm(model, budget = 512,
        "((1 + dd.n_chars % 13) * (1 + dd.doc_id % 11) + 3) // 4"))
      val patches = expr("((1 + n_chars % 13) * (1 + doc_id % 11) + 3) div 4")
      TextFunctions.packBins(docs, "doc_id", "text", tokenBudget = 512,
        Some(graft.functions.Bpe.subwordCountBpe(col("text"), model) + patches))
    }),

    "pp_ingest_media" -> ((s, d) => {
      // MEDIA ingest with image dedup at the gate, through the REAL
      // streaming engine: per micro-batch, generate the slice's PNGs,
      // run the full decode + dHash, drop hashes already in the
      // persisted corpus store or earlier batches, keep lowest
      // asset_id per hash (see StreamingQueries.runMediaIngestStream).
      // Ascending-id micro-batches make first-accepted == keep-min, so
      // the converged output equals the batch dedup the oracle states.
      val docs = Graft.documents(s, d)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      graft.streaming.StreamingQueries.harnessBatches(batch, "doc_id") match {
        case None => batch.select(col("doc_id").as("asset_id"),
          lit(0L).as("dhash_hi"), lit(0L).as("dhash_lo")).limit(0)
        case Some(batchOf) =>
          graft.streaming.StreamingQueries.runMediaIngestStream(
            s, batch, corpus, batchOf, tag = "ppmedia",
            stageKey = Some(s"ppmedia|$d"))
      }
    }),

    "pp_ingest_tfexample_media" -> ((s, d) => {
      // the media-ingest gate with the new batch arriving as TFDS-style
      // tf.Example image shards (r15, s_tfexample_media's layout): the
      // batch's PNGs ship as image/encoded BytesList features inside
      // TFRecord shards, are stream-parsed shard-parallel (one record in
      // memory per task), decoded through the certified PNG codec to
      // dHash fingerprints, and gated — drop hashes already in the
      // standing corpus, keep the lowest asset_id per surviving hash.
      // Same gate semantics as pp_ingest_media, so its oracle transfers
      // verbatim; the container read is what's new in front. 100 TB
      // shape: shard-parallel decode scan, one hash aggregation, one
      // anti-join against the (distinct, shuffling-once) corpus hashes.
      val out = scratchDir("ppingtfex")
      val docs = Graft.documents(s, d)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      import s.implicits._
      val payloads = batch.select("doc_id", "n_chars").as[(Long, Long)]
        .map { case (id, nc) =>
          graft.sources.Sources.TfExample.encode(Seq(
            "asset_id" -> id,
            "image/encoded" -> graft.multimodal.Multimodal.syntheticPngBytes(id, nc),
            "image/format" -> "png"))
        }.toDF("payload")
      graft.sources.Sources.writeTfRecords(payloads, "payload", out, shards = 4)
      val assets = graft.sources.Sources.readTfRecords(s, out)
        .as[Array[Byte]]
        .map { b =>
          val m = graft.sources.Sources.TfExample.decode(b).toMap
          (m("asset_id").int64s.head, m("image/encoded").bytes.head)
        }.toDF("asset_id", "payload")
      val batchHashes = Multimodal.imageDHash(assets)
      val corpusHashes = Multimodal.imageDHash(Multimodal.syntheticPngAssets(corpus))
        .select("dhash_hi", "dhash_lo").distinct()
      batchHashes.groupBy("dhash_hi", "dhash_lo")
        .agg(min(col("asset_id")).as("asset_id"))
        .join(corpusHashes, Seq("dhash_hi", "dhash_lo"), "left_anti")
        .select("asset_id", "dhash_hi", "dhash_lo")
    }),

    "pp_ingest_media_dct" -> ((s, d) => {
      // the media ingest gate keyed by the ROBUST DCT pHash instead of
      // the exact dHash (r13): rescaled/smoothed re-encodes of corpus
      // images now collide into the same fingerprint and get dropped at
      // the gate — the production choice when assets arrive through
      // lossy re-hosting. Same streaming machinery, same per-batch
      // idempotent stores; the fingerprint function and column names
      // are parameters (runMediaIngestStream hashFn). Micro-batches are
      // ascending-id HALVES (r18, the pp_ingest_streaming VERDICT r17
      // #7 audit applied to the DCT arm): two batches certify the
      // cross-batch hash state exactly as three did — batch 1 must drop
      // fingerprints batch 0 accepted — at two-thirds the per-batch
      // decode+store actions; the >1-prior-store union path stays
      // exercised in-registry by pp_ingest_media's three batches.
      val docs = Graft.documents(s, d)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      graft.streaming.StreamingQueries.harnessBatches(batch, "doc_id", n = 2) match {
        case None => batch.select(col("doc_id").as("asset_id"),
          lit(0L).as("phash_hi"), lit(0L).as("phash_lo")).limit(0)
        case Some(batchOf) =>
          graft.streaming.StreamingQueries.runMediaIngestStream(
            s, batch, corpus, batchOf, tag = "ppmediadct",
            hashFn = df => Multimodal.imagePHashDct(Multimodal.syntheticPngAssets(df)),
            hiCol = "phash_hi", loCol = "phash_lo",
            stageKey = Some(s"ppmediadct|$d"))
      }
    }),

    "pp_mix" -> ((s, d) =>
      // balanced mixture: every language downsampled to the smallest
      // language's size, rates derived from per-stratum counts (broadcast
      // back; corpus never shuffles) — fully oracle-checkable
      TextFunctions.balancedMix(Graft.documents(s, d), "doc_id", "lang")),

    "pp_chunk" -> ((s, d) =>
      // context-length chunking: 128-token windows, 16-token overlap —
      // pure scan + explode, integer spans, fully oracle-checkable
      TextFunctions.chunkSpans(Graft.documents(s, d), "doc_id", "text",
        maxTok = 128, overlap = 16)),

    "pp_sft_mask" -> ((s, d) => {
      // SFT example assembly with LOSS-MASK spans (r15): each doc
      // becomes a chat-templated training example — role sentinels
      // around a deterministic user/assistant split (first half of the
      // text prompts, second half answers) — plus the 1-based character
      // span [mask_start, mask_end) of the ASSISTANT content, the only
      // region the loss trains on. Pure per-row string arithmetic (one
      // codegen'd scan, no shuffle); the oracle replays the template
      // and the span math exactly. 100 TB shape: embarrassingly
      // parallel, output size ~input size.
      sftExamples(Graft.documents(s, d))
    }),

    "pp_pack_sft" -> ((s, d) => {
      // loss-masked SFT packing — the tensor-assembly step: the
      // chat-templated examples ([[sftExamples]]) pack into fixed
      // 512-token bins (packBins' two-phase parallel prefix sum) and
      // each example's assistant span REBASES by its char offset inside
      // the packed sequence — what a masked-loss dataloader actually
      // indexes. The offset window rides the bin partitioning (bins are
      // budget-bounded groups), never a global sort.
      import org.apache.spark.sql.expressions.Window
      val sft = sftExamples(Graft.documents(s, d))
      val bins = TextFunctions.packBins(sft, "doc_id", "sft_text", tokenBudget = 512)
      val joined = sft.join(bins.select("doc_id", "n_tok", "bin"), Seq("doc_id"))
      val wBin = Window.partitionBy("bin").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      joined.withColumn("seq_off",
          coalesce(sum(length(col("sft_text")).cast("long")).over(wBin), lit(0L)))
        .select(col("doc_id"), col("bin"), col("n_tok"), col("seq_off"),
          (col("mask_start") + col("seq_off")).cast("long").as("packed_mask_start"),
          (col("mask_end") + col("seq_off")).cast("long").as("packed_mask_end"))
    }),

    "pp_preference_pairs" -> ((s, d) => {
      // preference-pair construction (DPO/RLHF data prep, r15): within
      // each group (lang as the prompt proxy), pair the preferred
      // response with the dispreferred one — chosen = the doc
      // maximizing the (n_tokens, doc_id) score (the
      // most-informative-response proxy; this corpus passes the
      // quality_ok gate wholesale, so the gate cannot discriminate),
      // rejected = the doc minimizing it; singleton groups emit
      // nothing. Integer score + deterministic tie-breaks keep the
      // oracle exact, and the shape is ONE projection (score computed
      // next to the group key — no corpus self-join to fetch lang) +
      // ONE per-group aggregation computing both struct extremes
      // (map-side partials, one exchange) — no window sort, no
      // per-group row explosion at 100 TB.
      val docs = Graft.documents(s, d)
      val q = docs.select(col("doc_id"), col("lang"),
        TextFunctions.wsTokenCount(col("text")).as("n_tokens"))
      q.groupBy("lang")
        .agg(max(struct(col("n_tokens"), col("doc_id"))).as("c"),
          min(struct(col("n_tokens"), col("doc_id"))).as("r"))
        .where(col("c.doc_id") =!= col("r.doc_id"))
        .select(col("lang"),
          col("c.doc_id").as("chosen_id"), col("c.n_tokens").as("chosen_tokens"),
          col("r.doc_id").as("rejected_id"), col("r.n_tokens").as("rejected_tokens"),
          (col("c.n_tokens") - col("r.n_tokens")).as("token_gap"))
    }),

    "pp_fim" -> ((s, d) => {
      // fill-in-the-middle transformation (code/infilling training,
      // r15): even doc_ids re-serialize as <PRE>prefix<SUF>suffix<MID>
      // middle (the PSM order infilling models train on), odd ids pass
      // through unchanged — the deterministic stand-in for the
      // apply-with-probability-p gate. Thirds split by character count;
      // span lengths ride along as integers. One codegen'd scan, fully
      // oracle-replayable.
      val docs = Graft.documents(s, d)
      val len = length(col("text"))
      val third = expr("length(text) div 3")
      val applied = pmod(col("doc_id"), lit(2)) === 0
      docs.select(col("doc_id"),
        when(applied, concat(
            lit("<PRE>"), expr("substring(text, 1, length(text) div 3)"),
            lit("<SUF>"),
            expr("substring(text, 2 * (length(text) div 3) + 1, length(text))"),
            lit("<MID>"),
            expr("substring(text, length(text) div 3 + 1, length(text) div 3)")))
          .otherwise(col("text")).as("fim_text"),
        applied.as("fim_applied"),
        when(applied, third).otherwise(lit(0)).cast("int").as("pre_len"),
        when(applied, third).otherwise(lit(0)).cast("int").as("mid_len"),
        when(applied, len - lit(2) * third).otherwise(lit(0)).cast("int").as("suf_len"))
    }),

    "pp_weighted" -> ((s, d) =>
      // target-ratio mixture: de oversampled 2:1 against everything else,
      // at the largest feasible size — same broadcast-counts shape as
      // pp_mix, fully oracle-checkable
      TextFunctions.weightedMix(Graft.documents(s, d), "doc_id", "lang",
        weights = Map("de" -> 2L), defaultWeight = 1L)),

    "pp_temperature" -> ((s, d) =>
      // temperature sampling at T=2: low-resource languages upweighted
      // toward (not all the way to) balance — thresholds go through
      // sqrt (correctly rounded per IEEE 754), so the oracle replays
      // them bit-exactly
      TextFunctions.temperatureMix(Graft.documents(s, d), "doc_id", "lang",
        temperature = 2.0)),

    "pp_shuffle" -> ((s, d) =>
      // deterministic epoch shuffle: salted-hash (shard, pos) assignment,
      // per-shard partitioned windows (no global-order bottleneck) —
      // fully oracle-checkable
      TextFunctions.deterministicShuffle(Graft.documents(s, d), "doc_id",
        nShards = 32, seed = 42)),

    "pp_curriculum" -> ((s, d) => {
      // progressive curriculum schedule (easy-first ordering, Bengio et
      // al. 2009): difficulty tier = arithmetic thirds of n_chars (the
      // max arrives via a bounded 1-row scalar probe — the Windows.scala
      // cardinality-probe precedent), epoch e trains on tiers <= e, and
      // the order WITHIN an epoch is a deterministic md5 shuffle sharded
      // into 8 buckets so the position window parallelizes across
      // (epoch, bucket) — never a single-reducer global sort (the
      // pp_shuffle device; at scale the bucket count rises with the
      // corpus). Fully oracle-checkable.
      import org.apache.spark.sql.expressions.Window
      val docs = Graft.documents(s, d)
      val m = docs.agg(max("n_chars")).head().getLong(0) + 1L
      val tiered = docs.select(col("doc_id"),
        expr(s"least(2L, (n_chars * 3) div $m)").as("tier"))
      val h = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        col("epoch").cast("string"), lit(":cur42"))), 1, 8), 16, 10).cast("long")
      tiered.select(col("doc_id"), col("tier"),
          explode(sequence(col("tier"), lit(2L))).as("epoch"))
        .withColumn("h", h)
        .withColumn("bucket", pmod(col("h"), lit(8L)))
        .withColumn("pos", row_number().over(
          Window.partitionBy("epoch", "bucket").orderBy(col("h"), col("doc_id"))).cast("long"))
        .select("epoch", "bucket", "pos", "doc_id", "tier")
    }),

    "pp_rejection_sample" -> ((s, d) => {
      // rejection sampling / best-of-n selection (the RLHF data-curation
      // reduce: n candidate generations per prompt, keep the
      // reward-argmax): candidates group by prompt (doc_id div 4), a
      // deterministic pseudo-reward scores each, the argmax survives
      // (ties to the lower id) with the group size and the winner's
      // margin over the runner-up. One window pass over the prompt
      // groups — group size is bounded by the generation fan-out (n=4
      // here), never by corpus size, so the partitioned window is the
      // scale-right plan.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("prompt_id")
        .orderBy(col("reward_milli").desc, col("doc_id").asc)
      Graft.documents(s, d).select(col("doc_id"),
          expr("doc_id div 4").as("prompt_id"),
          pmod(col("doc_id") * lit(48271L) + col("n_chars") * lit(16807L),
            lit(100000L)).as("reward_milli"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_cand", count(lit(1)).over(Window.partitionBy("prompt_id")))
        .withColumn("margin", col("reward_milli") -
          coalesce(lead("reward_milli", 1).over(w), lit(0L)))
        .where(col("rn") === 1)
        .select(col("prompt_id"), col("doc_id").as("chosen_id"),
          col("reward_milli").as("best_reward"), col("n_cand"), col("margin"))
    }),

    "dd_stream_dedup" -> ((s, d) => {
      // streaming dedup through the real engine: readStream → watermark →
      // dropDuplicatesWithinWatermark (state auto-expires beyond the
      // horizon — the 100 TB shape: state is bounded by the dedup window,
      // not the corpus). The 30-day horizon covers the test corpus's whole
      // span, so the emitted set equals exact DISTINCT and the batch
      // oracle applies.
      val out = graft.streaming.StreamingQueries.readStreamParquet(s, d, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .withWatermark("event_time", "30 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      graft.streaming.StreamingQueries.runAppendToMemory(s, "dd_sdedup", out)
    }),

    "dd_stream_dedup_watermark" -> ((s, d) => {
      // WATERMARK-BOUNDED streaming dedup (r15): dd_stream_dedup's
      // 30-day horizon covers the whole corpus, so its state never
      // expires; real crawl ingestion bounds state with the watermark,
      // and this twin makes the bound BITE end-to-end through the real
      // engine. Event times are a pure function of (user, batch parity)
      // — every row of a user within one micro-batch carries the SAME
      // time, so the first-arrival state entry is value-deterministic,
      // not processing-order-dependent. Engine mechanics as pinned by
      // ProcessorsSpec: late filtering keeps event_time STRICTLY above
      // the previous batch's eviction watermark (the filter lags one
      // batch, SPARK-40925), duplicates of in-state keys drop, and
      // end-of-batch eviction removes expiry <= watermark — so
      // re-emission first becomes possible in batch 2. Batch 0 spreads
      // first arrivals across a day (hour = user % 24); batch 1
      // re-sends every user at hour 21 + user % 5 (all duplicates drop:
      // nothing evicted yet); batch 2 re-sends at hour 20 + user % 7
      // against the batch-0 watermark (max batch-0 time − 1 h). Three
      // fates, all oracle-stated: rows at or below the watermark DROP
      // (late), duplicates of still-live state DROP, duplicates of
      // EXPIRED state RE-EMIT — the bounded-state contract (state is
      // O(horizon), not O(corpus); dups separated by more than the
      // horizon reappear) that a 100 TB ingest relies on.
      val base = 1704067200000000L // 2024-01-01T00:00:00Z, micros
      val hour = 3600L * 1000000L
      val src = Graft.events(s, d).select(
        col("event_id"), col("user_id"),
        timestamp_micros(lit(base) + lit(hour) *
          when(pmod(col("event_id"), lit(3)) === 0,
            pmod(col("user_id"), lit(24)))
          .when(pmod(col("event_id"), lit(3)) === 1,
            lit(21) + pmod(col("user_id"), lit(5)))
          .otherwise(lit(20) + pmod(col("user_id"), lit(7))))
          .as("event_time"))
      // staging is session-cached per corpus (r18, the q_funnel device):
      // reps re-run the watermark state machine from a fresh checkpoint
      // over the byte-identical three-file layout
      val stream = graft.streaming.StreamingQueries.stageStreamBatchedCached(
        s, src, "ddwm", s"ddwm|$d")(pmod(col("event_id"), lit(3)))
      val out = stream
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark("user_id")
        .select(col("user_id"), unix_micros(col("event_time")).as("emit_us"))
      graft.streaming.StreamingQueries.runAppendToMemory(s, "dd_sdedup_wm", out,
        graft.streaming.StreamingQueries.stagedBytes(s"ddwm|$d"))
    }),

    "pp_ingest" -> ((s, d) => {
      // the composed INCREMENTAL-INGEST path (pp_pipeline's counterpart
      // for a standing corpus): new batch → drop content already in the
      // corpus (hash anti-join, keep-min within batch) → drop NEAR-dups
      // of corpus docs (pair generation here is the oracle-portable
      // blocking join; production feeds crossMinhashPairs) → stable split
      // assignment for what survives. One SQL chain replays it all.
      val docs = Graft.documents(s, d)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val keptExact = Dedup.incremental(batch, corpus, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      // guarded cross-corpus blocking (r15): same default-on cap as the
      // self-join pair generators; inert at oracle SFs, so the SQL
      // chain's plain join replays it exactly
      val cand = Dedup.crossBlockedPairs(batch, corpus, "doc_id",
        Seq("lang" -> col("lang"), "n_chars" -> col("n_chars")))
      val nearDup = Dedup.verifyJaccard(cand, docs, "doc_id", "text")
        .where(col("jaccard") >= 0.5)
        .select(col("a").as("doc_id")).distinct()
      batch.join(keptExact, Seq("doc_id"), "left_semi")
        .join(nearDup, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          TextFunctions.splitAssign(col("doc_id")).as("split"))
    }),

    "pp_ingest_streaming" -> ((s, d) => {
      // the SAME ingest chain driven through the real streaming engine
      // (foreachBatch micro-batches, cross-batch content-hash state,
      // at-least-once-idempotent per-batch stores — see
      // StreamingQueries.runIngestStream). Micro-batches partition the
      // new docs into ascending doc_id HALVES (r18, VERDICT r17 #7: two
      // batches certify the cross-batch property exactly as three did —
      // batch 1 must drop content batch 0 accepted — while cutting a
      // third of the per-batch store actions; the multi-prior-store
      // union path stays exercised by ProcessorsSpec's 3-batch planted
      // fixture and the media ingest entries). First-accepted ==
      // keep-min under ascending ids, so the converged output equals
      // the batch chain: the entry shares pp_ingest's oracle verbatim.
      val docs = Graft.documents(s, d)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      // empty batch slice → harnessBatches is None (the shared null guard)
      graft.streaming.StreamingQueries.harnessBatches(batch, "doc_id", n = 2) match {
        case None => batch.select(col("doc_id"), lit("train").as("split")).limit(0)
        case Some(batchOf) =>
          graft.streaming.StreamingQueries.runIngestStream(
            s, batch, corpus, batchOf, jaccardMin = 0.5, tag = "ppingest",
            stageKey = Some(s"ppingest|$d"))
      }
    }),

    "pp_ingest_semantic" -> ((s, d) => {
      // the FULL production ingest gate (VERDICT r11 #3): exact hash
      // anti-join + fuzzy Jaccard + SemDeDup semantic near-dup — an
      // incoming doc whose EMBEDDING sits in the same frozen cluster as
      // a corpus vector at round(cos,6) ≥ 0.3 is dropped even when its
      // text shares no tokens. Embeddings key by vec_id == doc_id;
      // model frozen once (trainIvf, deterministic), corpus assignment
      // via the codegen'd IvfAssign kernel, corpus side capped per
      // cluster (capBuckets r-side-only). Threshold 0.3: the corpus's
      // cross-pair p99.9 — drops are real but sparse (see spec).
      val docs = Graft.documents(s, d)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val keptExact = Dedup.incremental(batch, corpus, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      // guarded cross-corpus blocking (r15): same default-on cap as the
      // self-join pair generators; inert at oracle SFs, so the SQL
      // chain's plain join replays it exactly
      val cand = Dedup.crossBlockedPairs(batch, corpus, "doc_id",
        Seq("lang" -> col("lang"), "n_chars" -> col("n_chars")))
      val nearDup = Dedup.verifyJaccard(cand, docs, "doc_id", "text")
        .where(col("jaccard") >= 0.5)
        .select(col("a").as("doc_id")).distinct()
      val emb = Graft.embeddings(s, d)
      val model = frozenModel("ivf16", d)(Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16))
      val asg = Ann.assignClusters(emb, "vec_id", "embedding", model)
      val semDup = Ann.crossSemanticDup(
          asg.where(pmod(col("vec_id"), lit(10)) === 0),
          asg.where(pmod(col("vec_id"), lit(10)) =!= 0),
          threshold = 0.3, maxCluster = 2000)
        .select(col("vec_id").as("doc_id"))
      AnnOracleSql.register("pp_ingest_semantic",
        ppIngestSqlBuilder(Some(AnnOracleSql.ingestSemanticCtes(model,
          threshold = 0.3, maxCluster = 2000,
          newPred = "b.vec_id % 10 = 0", corpusPred = "vec_id % 10 <> 0"))))
      batch.join(keptExact, Seq("doc_id"), "left_semi")
        .join(nearDup, Seq("doc_id"), "left_anti")
        .join(semDup, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          TextFunctions.splitAssign(col("doc_id")).as("split"))
    }),

    "pp_ingest_semantic_streaming" -> ((s, d) => {
      // the semantic-gated ingest chain through the REAL streaming
      // engine: runIngestStream's micro-batch composition with the
      // SemDeDup stage spliced in — corpus assignment persisted once,
      // each batch assigns only its fresh docs (IvfAssign kernel) and
      // joins the persisted assignment. Corpus-scoped by design (the
      // batch-chain-parity property), so the entry shares
      // pp_ingest_semantic's oracle verbatim; cross-batch behavior is
      // pinned in ProcessorsSpec.
      val docs = Graft.documents(s, d)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      graft.streaming.StreamingQueries.harnessBatches(batch, "doc_id") match {
        case None => batch.select(col("doc_id"), lit("train").as("split")).limit(0)
        case Some(batchOf) =>
          val emb = Graft.embeddings(s, d)
          val model = frozenModel("ivf16", d)(Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16))
          // identical frozen model (trainIvf is deterministic) → the
          // batch entry's oracle replays this run too
          AnnOracleSql.register("pp_ingest_semantic_streaming",
            ppIngestSqlBuilder(Some(AnnOracleSql.ingestSemanticCtes(model,
              threshold = 0.3, maxCluster = 2000,
              newPred = "b.vec_id % 10 = 0", corpusPred = "vec_id % 10 <> 0"))))
          graft.streaming.StreamingQueries.runIngestStream(
            s, batch, corpus, batchOf, jaccardMin = 0.5, tag = "ppsem",
            semantic = Some((emb, model, 0.3, 2000)),
            stageKey = Some(s"ppsem|$d"))
      }
    }),

    "pp_pipeline" -> ((s, d) => {
      // the whole corpus-preparation pipeline, composed end-to-end from
      // the library's own stages: quality gate (scan-pushed filter) →
      // exact dedup (hash groupBy keep-min, semi-join back) →
      // deterministic split → sequence packing of the train split
      // (parallel prefix sums). One oracle replays the identical chain.
      val docs = Graft.documents(s, d)
      val q = docs.where(TextFunctions.qualityOkFast(col("text")))
      val keep = Dedup.exact(q, "doc_id", "text").select(col("keep_id").as("doc_id"))
      val kept = q.join(keep, Seq("doc_id"), "left_semi")
      val split = kept.select(col("doc_id"), col("text"),
        TextFunctions.splitAssign(col("doc_id")).as("split"))
      val packed = TextFunctions
        .packBins(split.where(col("split") === "train"), "doc_id", "text", tokenBudget = 512)
        .select(col("doc_id"), col("bin"))
      split.select("doc_id", "split").join(packed, Seq("doc_id"), "left")
        // -1, not NULL, for non-train rows: nullable ints round-trip
        // differently across engines' parquet/pandas paths
        .select(col("doc_id"), col("split"), coalesce(col("bin"), lit(-1L)).as("bin"))
    }),

    // ---- similarity search ------------------------------------------------
    "ann_brute" -> ((s, d) => {
      val emb = Graft.embeddings(s, d)
      Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 10)
    }),

    "ann_filtered" -> ((s, d) => {
      // label-scoped exact retrieval (r15): each query's candidates are
      // pre-filtered to ITS label by an equi-join key (broadcast hash
      // join), so the filter prunes before any dot product — the
      // namespaced/tenant-scoped search shape, not a post-rank WHERE
      // that would waste the full scan's scoring work.
      val emb = Graft.embeddings(s, d)
      Ann.filteredTopK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", Seq("label"), k = 10)
    }),

    "ann_matryoshka" -> ((s, d) => {
      // MATRYOSHKA (MRL) prefix search (r14): retrieval over only the
      // first 16 of 64 dims — the coarse pass of the modern two-stage
      // embedding-search economics (4x less vector I/O and dot-product
      // work per candidate; re-rank survivors at full width). Cosine
      // renormalizes per-vector, so truncation needs no stored norms;
      // the slice happens on the FLOAT storage dtype before the double
      // hop, exactly what the oracle replays. DedupAnnSpec pins the
      // recall-vs-full-width trade the prefix buys. Scale shape: same
      // broadcast-queries brute scan as ann_brute over a 4x-narrower
      // store (the production coarse pass runs it over PQ/IVF instead;
      // those compositions are certified separately).
      val emb = Graft.embeddings(s, d)
      val trunc = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      Ann.bruteForceTopK(trunc, trunc.where(col("vec_id") < 10), "vec_id", "embedding", k = 10)
    }),

    "ann_mrl_rerank" -> ((s, d) => {
      // the COMPOSED MRL retrieval (r14): 16-dim coarse top-50 → exact
      // 64-dim re-rank of only those candidates (Ann.mrlTopK) — the
      // production two-stage shape ann_matryoshka's coarse pass feeds.
      // Reported cosines are true full-width scores; the oracle replays
      // both stages (coarse = the matryoshka device with k widened).
      val emb = Graft.embeddings(s, d)
      Ann.mrlTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 10, prefix = 16, coarseK = 50)
    }),

    "ann_lsh" -> ((s, d) => {
      // SRP-LSH bucketed ANN (shuffle on bucket id; recall vs brute force
      // asserted in AnnSpec)
      val emb = Graft.embeddings(s, d)
      Ann.lshTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 10, nBits = 6, probeBits = 4)
    }),

    "ann_ivf" -> ((s, d) => {
      // IVF: KMeans-learned inverted lists, nProbe-cell search —
      // data-adaptive scale path (recall vs brute force in AnnSpec).
      // Freeze-the-model full oracle: training is deterministic, so the
      // entry trains ONCE and hands the same frozen model to the Spark
      // searcher and to AnnOracleSql, which replays the SEARCH (list
      // assignment, in-list exact cosine top-k) in DuckDB with the
      // centroids embedded as literals.
      val emb = Graft.embeddings(s, d)
      val model = frozenModel("ivf16", d)(Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16))
      AnnOracleSql.register("ann_ivf", AnnOracleSql.ivfTopK(model, k = 10, nProbe = 4))
      Ann.ivfTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 10, nProbe = 4, model)
    }),

    "ann_quantized" -> ((s, d) => {
      // search over the QUANTIZED store: the int8 codec (mm_quantize)
      // composed with exact search — corpus vectors round-trip through
      // (scale, codes) and rank by cosine against the raw queries, the
      // production pattern where only the 4×-smaller store is resident.
      // Dequantized values hop back through FLOAT (the storage dtype);
      // the oracle replays quantize → dequant → float hop → the same
      // cosine fold ann_brute hash-proved. Certifies the end-to-end
      // fidelity claim mm_quantize's per-vector cosine makes: top-k
      // under the codec matches the oracle bit-for-bit.
      // Two-step quantize-then-dequantize (the mm_quantize pattern):
      // projecting the struct to `_q` first evaluates the O(d) scale
      // aggregate once per row; inlining the composition would replay
      // it inside every per-element HOF lambda (O(d^2) per row).
      val emb = Graft.embeddings(s, d)
      val store = emb
        .select(col("vec_id"),
          graft.functions.VectorFunctions.quantizeInt8(col("embedding")).as("_q"))
        .select(col("vec_id"),
          graft.functions.VectorFunctions.dequantizeInt8(col("_q"))
            .cast("array<float>").as("embedding"))
      Ann.bruteForceTopK(store, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 10)
    }),

    "ann_ivf_saved" -> ((s, d) => {
      // the production artifact seam, driver-certified: train → SAVE the
      // frozen model (ModelIO parquet artifact) → LOAD → search with the
      // LOADED model. The round trip is bit-exact (ModelIOSpec raw-bit
      // proof), so the loaded model registers the same frozen-model
      // oracle replay ann_ivf uses — a persistence bug breaks the hash.
      val emb = Graft.embeddings(s, d)
      val model = frozenModel("ivf16", d)(Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16))
      val dir = scratchDir("ivf-artifact")
      graft.ann.ModelIO.saveIvf(s, model, dir)
      val loaded = graft.ann.ModelIO.loadIvf(s, dir)
      AnnOracleSql.register("ann_ivf_saved",
        AnnOracleSql.ivfTopK(loaded, k = 10, nProbe = 4))
      Ann.ivfTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 10, nProbe = 4, loaded)
    }),

    "ann_pq" -> ((s, d) => {
      // product-quantization ANN: broadcast codebooks, m-byte codes, O(m)
      // ADC scoring, exact re-rank of the refine set — the
      // memory-compression scale path (full-refine == brute force and
      // recall bounds asserted in AnnSpec). Freeze-the-model full oracle:
      // AnnOracleSql replays encode → LUT → ADC → re-rank from the
      // frozen codebooks.
      val emb = Graft.embeddings(s, d)
      val model = frozenModel("pq8x6", d)(Ann.trainPq(emb, "vec_id", "embedding", m = 8, codebookBits = 6))
      AnnOracleSql.register("ann_pq", AnnOracleSql.pqTopK(model, k = 10, refineK = 50))
      Ann.pqTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 10, refineK = 50, model)
    }),

    "ann_ivfpq" -> ((s, d) => {
      // IVFADC: inverted lists scope the search, residual PQ compresses
      // the in-cell scan, exact re-rank on the refine set — the full
      // production ANN composition (recall + exact-degradation asserted
      // in DedupAnnSpec). Freeze-the-model full oracle as above.
      val emb = Graft.embeddings(s, d)
      val model = frozenModel("ivfpq16x8x6", d)(Ann.trainIvfPq(emb, "vec_id", "embedding",
        nLists = 16, m = 8, codebookBits = 6))
      AnnOracleSql.register("ann_ivfpq",
        AnnOracleSql.ivfPqTopK(model, k = 10, nProbe = 6, refineK = 50))
      Ann.ivfPqTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 10, nProbe = 6, refineK = 50, model)
    }),

    "ann_contrastive" -> ((s, d) => {
      // contrastive training-pair mining for embedding models: per
      // query, ONE positive (best in-cluster neighbor) + 10 HARD
      // negatives (highest-cosine vectors from the next 5 nearest
      // FOREIGN lists — close but cluster-distinct; random negatives
      // would be trivially easy). Exclusion is structural (probe ranks
      // 2..nProbe), so no post-filter re-ranking subtleties. Frozen
      // model → full oracle replaying both branches.
      val emb = Graft.embeddings(s, d)
      val model = frozenModel("ivf16", d)(Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16))
      AnnOracleSql.register("ann_contrastive",
        AnnOracleSql.contrastivePairs(model, kNeg = 10, nProbe = 6))
      Ann.contrastivePairs(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        kNeg = 10, nProbe = 6, model)
    }),

    "ann_assign_streaming" -> ((s, d) => {
      // index-at-ingest: assign every arriving embedding to its frozen
      // IVF list THROUGH THE REAL STREAMING ENGINE (stateless map with
      // the broadcast model, append mode, AvailableNow → memory sink) —
      // the shape production ingest uses to keep the ANN index current:
      // the model is frozen/persisted, each micro-batch only computes
      // its own assignments and appends to the list partitions. Oracle:
      // the frozen-centroid argmax replayed per vector (ties to the
      // lowest list — the kernel's fold order).
      val emb = Graft.embeddings(s, d)
      val model = frozenModel("ivf16", d)(Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16))
      AnnOracleSql.register("ann_assign_streaming", AnnOracleSql.assignOnly(model))
      val stream = graft.streaming.StreamingQueries.readStreamParquet(s, d, "embeddings")
      graft.streaming.StreamingQueries.runAppendToMemory(s, "ann_assign_streaming",
        Ann.assignClusters(stream, "vec_id", "embedding", model)
          .select(col("vec_id"), col("cluster").cast("int").as("cluster")))
    }),

    "ann_recall_report" -> ((s, d) => {
      // recall@10 of every approximate ANN path against the exact brute
      // force, computed INSIDE Spark over the same parameterizations as
      // the certified ann_* queries — one row per method. FULL oracle
      // since r10: each method's search replay is individually
      // hash-proven (EmbeddingOracleSql / AnnOracleSql), so the recall
      // computation composes them — the entry trains the quantizer
      // models itself (deterministic, same parameterizations as the
      // ann_* entries) and registers the composed SQL with those frozen
      // models embedded. Scale shape: the truth set is |queries|·k rows;
      // every comparison is an equi-join on (query_id, neighbor_id); the
      // searches themselves keep their own certified plans.
      import s.implicits._
      val emb = Graft.embeddings(s, d)
      val q = emb.where(col("vec_id") < 10)
      val ivfModel = frozenModel("ivf16", d)(Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16))
      val pqModel = frozenModel("pq8x6", d)(Ann.trainPq(emb, "vec_id", "embedding", m = 8, codebookBits = 6))
      val ivfPqModel = frozenModel("ivfpq16x8x6", d)(Ann.trainIvfPq(emb, "vec_id", "embedding",
        nLists = 16, m = 8, codebookBits = 6))
      AnnOracleSql.register("ann_recall_report", AnnOracleSql.recallReport(
        annBruteSql, Seq(
          "lsh" -> EmbeddingOracleSql.lshTopK(k = 10, nBits = 6, probeBits = 4),
          "ivf" -> AnnOracleSql.ivfTopK(ivfModel, k = 10, nProbe = 4),
          "pq" -> AnnOracleSql.pqTopK(pqModel, k = 10, refineK = 50),
          "ivfpq" -> AnnOracleSql.ivfPqTopK(ivfPqModel, k = 10, nProbe = 6, refineK = 50))))
      val truth = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val methods: Seq[(String, DataFrame)] = Seq(
        "lsh" -> Ann.lshTopK(emb, q, "vec_id", "embedding",
          k = 10, nBits = 6, probeBits = 4),
        "ivf" -> Ann.ivfTopK(emb, q, "vec_id", "embedding",
          k = 10, nProbe = 4, ivfModel),
        "pq" -> Ann.pqTopK(emb, q, "vec_id", "embedding",
          k = 10, refineK = 50, pqModel),
        "ivfpq" -> Ann.ivfPqTopK(emb, q, "vec_id", "embedding",
          k = 10, nProbe = 6, refineK = 50, ivfPqModel))
      val approx = methods.map { case (m, df) =>
        df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
      }.reduce(_ unionByName _)
      val hits = approx.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("method").agg(count(lit(1)).as("n_hit"))
      val totals = broadcast(truth.agg(count(lit(1)).as("n_truth")))
      methods.map(_._1).toDF("method")
        .join(hits, Seq("method"), "left")
        .crossJoin(totals)
        .select(col("method"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_truth"), 4)
            .as("recall_at_10"))
    }),

    // ---- text analysis ----------------------------------------------------
    "txt_quality" -> ((s, d) =>
      // native text_stats kernel: one byte scan per doc
      TextFunctions.qualityFeatures(Graft.documents(s, d), "doc_id", "text")),

    "txt_langid" -> ((s, d) =>
      // marker-lexicon language ID — deterministic marker-count argmax
      // with first-alphabetical tie-break, so it IS oracle-expressible
      // (the oracle replays the same scoring in SQL); dispatches the
      // native one-pass lang_scores kernel when extensions are loaded
      Graft.documents(s, d).select(
        col("doc_id"), col("lang"),
        TextFunctions.argmaxLangFast(col("text")).as("lang_pred"))),

    "txt_repetition" -> ((s, d) =>
      // Gopher-style repetition filters: duplicate 2-/3-gram ratios (pure
      // column exprs) + top-token share (explode → map-side-combined
      // count) — fully oracle-checkable
      TextFunctions.repetitionSignals(Graft.documents(s, d), "doc_id", "text")),

    "txt_sentences" -> ((s, d) => {
      // sentence segmentation — the pre-chunking text op: split on
      // terminal punctuation + whitespace. The synthetic corpus ships
      // punctuation-free (the split would be vacuous), so the fixture
      // step plants deterministic boundaries first — every 5th word
      // gains a terminal '.' (the mm_* precedent: fixture-derived
      // input, REAL operator mechanics certified). The character class
      // is spelled EXPLICITLY ([ \t\n\r]) on both engines because Java
      // regex \s includes \x0B where RE2's does not. sent_idx is the
      // PRE-filter split position (stable under empty removal);
      // whitespace-only fragments filter identically on both sides.
      // Scale shape: per-row higher-order functions + explode inside
      // the scan — no UDF, no shuffle. Definition shared with the scale
      // audit (sentenceSegments).
      sentenceSegments(Graft.documents(s, d))
    }),

    "txt_fertility" -> ((s, d) => {
      // tokenizer FERTILITY per language — the multilingual
      // tokenizer-quality metric (tokens per character; a tokenizer
      // that fragments a language inflates its training cost and
      // context usage): true BPE subword counts (trie kernel) summed
      // per lang with char totals, plus an integer milli-fertility
      // (floor of 1000·tokens/chars) so no float crosses the engines.
      // One tokenize scan + one tiny groupBy on lang.
      // null guard stated EXPLICITLY on both engines (ADVICE r12): the
      // oracle's doc_id join silently drops null rows while count(1)
      // here would keep them — a latent hash divergence on dirty input.
      val docs = Graft.documents(s, d)
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      // frozen-once model (fertModelFor): scoring is the operator; the
      // deterministic training is a memoized setup step, as in production
      val model = fertModelFor(d)(graft.functions.Bpe.train(docs, "text", nMerges = 64))
      AnnOracleSql.register("txt_fertility", BpeOracleSql.fertilityByLang(model))
      docs.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(graft.functions.Bpe.subwordCountBpe(col("text"), model)).as("sum_tokens"))
        .withColumn("fert_milli", expr("(sum_tokens * 1000) div sum_chars"))
    }),

    "txt_normalize" -> ((s, d) => {
      // Unicode NFC normalization (r13) — the pre-tokenization step
      // every multilingual pipeline runs (decomposed base+combining
      // sequences must compose, or "café" hashes two ways and exact
      // dedup silently misses). The ASCII fixture corpus is NFC-inert,
      // so each doc PLANTS a decomposed sequence chosen by doc_id%3
      // (combining acute/grave/diaeresis — U+0301/U+0300/U+0308); the
      // native nfc_normalize kernel (java.text.Normalizer, TR-15)
      // composes it and DuckDB's nfc_normalize replays the same public
      // spec — full text + both char counts certified (every row
      // contracts by exactly one code point, so the op is non-vacuous
      // on every row). Scan-local projection, zero exchanges; the
      // isNormalized fast path makes clean-corpus rows reallocation-free.
      val docs = Graft.documents(s, d)
      val plant = when(pmod(col("doc_id"), lit(3)) === 0, lit(" cafe\u0301"))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit(" a\u0300 la"))
        .otherwise(lit(" nai\u0308ve"))
      // normalize ONCE per row, derive the length from the result in a
      // second projection (review r13: the single-select form evaluated
      // the kernel twice wherever subexpression elimination is off)
      docs.select(col("doc_id"), concat(col("text"), plant).as("_raw"))
        .selectExpr("doc_id", "length(_raw) AS raw_chars",
          "nfc_normalize(_raw) AS norm_text")
        .select(col("doc_id"), col("raw_chars"),
          length(col("norm_text")).as("norm_chars"), col("norm_text"))
    }),

    "dd_exact_nfc" -> ((s, d) => {
      // exact dedup THROUGH the normalization kernel — the reason
      // txt_normalize exists: two crawls of the same page that differ
      // ONLY in unicode composition form must dedup together. The
      // fixture plants the pair explicitly: every %10==0 doc gets a
      // PRECOMPOSED suffix twin (doc_id + offset) whose text is the
      // DECOMPOSED spelling of the same string; dedup keys on
      // nfc_normalize(text), so each twin collapses onto its original
      // (keep-min id) — 10% of the corpus demonstrably deduped by
      // normalization ALONE (raw md5 would keep both). Same hash
      // groupBy shape as dd_exact: one exchange over 16-byte digests.
      // ONE corpus scan (review r13: the union form read documents
      // twice): each %10==0 row explodes into (original + twin) structs
      val docs = Graft.documents(s, d)
      val off = 1000000000L
      val composed = "\u00e9\u00e0\u00ef" // precomposed e-acute a-grave i-diaeresis
      val decomposed = "e\u0301a\u0300i\u0308" // the same string, NFD-spelled
      val base = struct(col("doc_id").as("doc_id"), col("text").as("text"))
      val planted = docs.select(explode(
          when(pmod(col("doc_id"), lit(10)) === 0, array(
            struct(col("doc_id").as("doc_id"),
              concat(col("text"), lit(" "), lit(composed)).as("text")),
            struct((col("doc_id") + lit(off)).as("doc_id"),
              concat(col("text"), lit(" "), lit(decomposed)).as("text"))))
          .otherwise(array(base))).as("r"))
        .select(col("r.doc_id").as("doc_id"),
          ColumnBridge.column(NfcNormalize(ColumnBridge.expression(col("r.text")))).as("text"))
      // the CANONICAL exact-dedup shape, reused (review r13: an inline
      // md5-groupBy copy would drift from Dedup.exact independently)
      Dedup.exact(planted, "doc_id", "text")
    }),

    "dd_exact_nfkc" -> ((s, d) => {
      // exact dedup through NFKC + casefold (r14, verdict ask #4) —
      // dd_exact_nfc's composition variants are only half the story:
      // real crawls also spell the SAME logical string with
      // compatibility forms (fullwidth Ａ, ligature ﬁ, superscript ²)
      // and case variants, which NFC-keyed dedup keeps apart. The
      // fixture plants both spellings explicitly: every %10==0 doc
      // gains a LIGATURE-spelled suffix (" ﬁle abc 25") and a twin
      // (doc_id + offset) carrying the CASE+FULLWIDTH+SUPERSCRIPT
      // spelling (" FILE ＡＢＣ ²⁵") — under nfkc_casefold BOTH fold to
      // the identical ASCII " file abc 25", so each twin collapses onto
      // its original (keep-min id) while raw md5 (and even nfc-keyed
      // md5) would keep all three spellings distinct. DuckDB has no
      // NFKC surface, so the oracle replays the grouping with lower()
      // over the ASCII corpus plus the KNOWN folded suffix; the
      // kernel-equals-constant step is certified in FunctionsSpec
      // (the established exact-columns device). Same one-scan explode
      // + hash-groupBy shape as dd_exact_nfc.
      val docs = Graft.documents(s, d)
      val off = 1000000000L
      val ligature = " ﬁle abc 25"                     // fi-ligature spelling
      val compat = " FILE ＡＢＣ ²⁵"  // case+fullwidth+superscript spelling
      val base = struct(col("doc_id").as("doc_id"), col("text").as("text"))
      val planted = docs.select(explode(
          when(pmod(col("doc_id"), lit(10)) === 0, array(
            struct(col("doc_id").as("doc_id"),
              concat(col("text"), lit(ligature)).as("text")),
            struct((col("doc_id") + lit(off)).as("doc_id"),
              concat(col("text"), lit(compat)).as("text"))))
          .otherwise(array(base))).as("r"))
        .select(col("r.doc_id").as("doc_id"),
          ColumnBridge.column(NfkcCasefold(ColumnBridge.expression(col("r.text")))).as("text"))
      Dedup.exact(planted, "doc_id", "text")
    }),

    "txt_fingerprint" -> ((s, d) =>
      Graft.documents(s, d).select(
        col("doc_id"),
        TextFunctions.fingerprintHex(col("text")).as("fp16"))),

    "txt_oov" -> ((s, d) => {
      // out-of-vocabulary rate under a FROZEN top-1000 word vocabulary
      // (r16) — the curation signal that flags boilerplate/garbled/
      // wrong-register text a token-count filter misses. Train-once
      // discipline (the BPE/IVF contract): the vocab is a bounded
      // top-20 model artifact (deterministic: count desc, word asc; 20
      // rather than a web-scale 10^5 because the synthetic corpus has
      // ~50 distinct words — a bigger K would make every doc 0 OOV and
      // the gate non-discriminating),
      // memoized per corpus and BROADCAST back — the scoring pass is
      // then ONE corpus scan + a broadcast left join + one per-doc
      // aggregation; exact basis-point integer arithmetic.
      val docs = Graft.documents(s, d)
      val vocab: Seq[String] = frozenModel("oov_vocab", d) {
        docs.select(explode(TextFunctions.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok").asc).limit(20)
          .collect().map(_.getString(0)).toSeq // bounded model-load collect
      }
      import s.implicits._
      val v = broadcast(vocab.toDF("tok").withColumn("_v", lit(1)))
      docs.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .join(v, Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("_v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_bp", expr("(n_oov * 10000L) div n_tok"))
        .select("doc_id", "n_tok", "n_oov", "oov_bp")
    }),

    "pp_mlm_mask" -> ((s, d) => {
      // deterministic MLM masking (r16) — BERT-style corpus prep: each
      // whitespace token masks iff its portable md5 position hash lands
      // under 15% (the standard rate), so the same doc always masks the
      // same positions (reproducible epochs, the interleave/split hash
      // device). Pure per-row HOF over ONE codegen'd scan — no shuffle,
      // no RNG; the oracle replays the hash and the lambda exactly.
      // The boolean mask array is computed ONCE in its own projection
      // (r17, VERDICT r16 #2): the earlier form evaluated the md5
      // position hash in BOTH the masked_text transform and the
      // n_masked aggregate — 2× md5 + hex-conv per token. The mask
      // alias is non-cheap and referenced twice, so CollapseProject
      // leaves the two Projects separate: one hash evaluation per
      // token in the plan, both outputs derived from the array.
      Graft.documents(s, d)
        .select(col("doc_id"), split(col("text"), "\\s+").as("_toks"))
        .select(col("doc_id"), col("_toks"),
          transform(col("_toks"), (t, i) => length(t) > 0 &&
            conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
              i.cast("string"))), 1, 8), 16, 10).cast("long") % 100 < 15).as("_mask"))
        .select(col("doc_id"),
          concat_ws(" ", zip_with(col("_toks"), col("_mask"),
            (t, m) => when(m, lit("[MASK]")).otherwise(t))).as("masked_text"),
          aggregate(col("_mask"), lit(0L),
            (acc, m) => acc + when(m, 1L).otherwise(0L)).as("n_masked"))
    }),

    "pp_sft_multiturn" -> ((s, d) => {
      // MULTI-TURN SFT assembly (r16) — real chat training data is
      // conversations, not single exchanges: each doc becomes a 2-turn
      // dialog (text quarters: user1/assistant1/user2/assistant2) under
      // the role-sentinel template, with a loss-mask char span PER
      // ASSISTANT TURN — the only regions the loss trains on (the
      // pp_sft_mask discipline, generalized to per-turn spans). Pure
      // per-row integer arithmetic on ONE codegen'd scan, no shuffle;
      // the oracle replays template + span math exactly. 100 TB shape:
      // embarrassingly parallel.
      val L = length(col("text"))
      val q = expr("length(text) div 4")
      Graft.documents(s, d).select(col("doc_id"),
        concat(
          lit("<|user|>"), expr("substring(text, 1, length(text) div 4)"),
          lit("<|assistant|>"), expr("substring(text, length(text) div 4 + 1, length(text) div 4)"),
          lit("<|end|>"),
          lit("<|user|>"), expr("substring(text, 2 * (length(text) div 4) + 1, length(text) div 4)"),
          lit("<|assistant|>"), expr("substring(text, 3 * (length(text) div 4) + 1, length(text))"),
          lit("<|end|>")).as("sft_text"),
        (lit(8) + q + lit(13) + lit(1)).cast("long").as("a1_start"),
        (lit(8) + q + lit(13) + lit(1) + q).cast("long").as("a1_end"),
        (lit(50) + q * 3 ).cast("long").as("a2_start"),
        (lit(50) + L).cast("long").as("a2_end"))
    }),

    "pp_robots" -> ((s, d) => {
      // RFC 9309 robots filtering (r16) — the crawl-politeness stage
      // between link mining and fetch: each distinct crawl URL judged by
      // its host's rule group, LONGEST matching path prefix wins, Allow
      // beats Disallow at equal length, no match ⇒ allowed. The fixture
      // plants all three behaviors: per .com host k, Disallow /p{k} with
      // a longer Allow /p{k}3 carve-out (longest-match), example1.org a
      // blanket Disallow /, and example2.org an EQUAL-LENGTH /q1
      // Allow+Disallow pair (the tie the RFC resolves to Allow). Rules
      // broadcast (robots corpora are KBs per host vs billions of URLs);
      // the verdict is one broadcast join + one per-URL aggregation.
      val links = syntheticHtml(Graft.documents(s, d))
        .select(explode(regexp_extract_all(col("html"), lit(anchorPat), lit(1))).as("attrs"))
        .select(hrefFromAttrs(col("attrs")).as("href"))
        .where(col("href").isNotNull)
      import s.implicits._
      val rules = ((0 until 7).flatMap(k => Seq(
          (s"example$k.com", s"/p$k", false),
          (s"example$k.com", s"/p${k}3", true))) ++ Seq(
          ("example1.org", "/", false),
          ("example2.org", "/q1", false),
          ("example2.org", "/q1", true)))
        .toDF("host", "prefix", "allow")
      graft.crawl.Robots.verdicts(links, "href", rules)
        .select(col("url").as("href"), col("allowed"), col("matched_prefix"))
    }),

    "s_warc" -> ((s, d) => {
      // WARC container roundtrip (r16) — the web-archive format
      // CommonCrawl ships (ISO 28500): each synthetic crawl page becomes
      // a response record (fixed date, deterministic record id, exact
      // Content-Length framing) across 4 shards; the strict streaming
      // walk reads them back one-task-per-shard, one record in memory at
      // a time. Identity oracle over the page fixture. doc_id rides the
      // Target-URI (the crawl-pipeline convention: the URI IS the key).
      val out = scratchDir("warc")
      val h = syntheticHtml(Graft.documents(s, d))
        .select(concat(lit("https://corpus.example/doc/"), col("doc_id")).as("uri"),
          col("html").cast("binary").as("payload"))
      graft.sources.Warc.writeShards(h, "uri", "payload", out, shards = 4)
      graft.sources.Warc.read(s, out)
        .select(
          regexp_extract(col("uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("payload").cast("string").as("html"))
    }),

    "s_warc_wet" -> ((s, d) => {
      // the REAL crawl front end end-to-end (r16): WARC shards → strict
      // record walk → WET text extraction — the exact WARC→WET stage a
      // 100 TB CommonCrawl pipeline runs first, composed from the
      // certified container codec and the certified extraction chain
      // (shares txt_html_extract's oracle verbatim). Scan shape: the
      // extraction regexes run inside the shard-read projection — no
      // extra exchange over the raw HTML.
      val out = scratchDir("warcwet")
      val h = syntheticHtml(Graft.documents(s, d))
        .select(concat(lit("https://corpus.example/doc/"), col("doc_id")).as("uri"),
          col("html").cast("binary").as("payload"))
      graft.sources.Warc.writeShards(h, "uri", "payload", out, shards = 4)
      graft.sources.Warc.read(s, out)
        .select(
          regexp_extract(col("uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          TextFunctions.htmlTextFast(col("payload").cast("string")).as("text_clean"))
        .withColumn("clean_chars", length(col("text_clean")).cast("long"))
    }),

    "s_warc_gz" -> ((s, d) => {
      // the ACTUAL CommonCrawl wire format (r16): .warc.gz with each
      // record its own gzip member (RFC 1952 concatenation — the layout
      // an index can seek into), read back through one multi-member
      // decompressor feeding the same strict walk. Same identity oracle
      // as the plain container.
      val out = scratchDir("warcgz")
      val h = syntheticHtml(Graft.documents(s, d))
        .select(concat(lit("https://corpus.example/doc/"), col("doc_id")).as("uri"),
          col("html").cast("binary").as("payload"))
      graft.sources.Warc.writeShardsGz(h, "uri", "payload", out, shards = 4)
      graft.sources.Warc.readGz(s, out)
        .select(
          regexp_extract(col("uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("payload").cast("string").as("html"))
    }),

    "s_warc_streaming" -> ((s, d) => {
      // WARC shards arriving THROUGH the real streaming engine (the
      // s_arrow_streaming device): the SAME 4 shards staged, streaming
      // binaryFile source one shard per micro-batch, each walked by the
      // SAME strict record parser. Stateless append — converged result
      // equals the batch read, shared oracle.
      val out = scratchDir("warcstream")
      val h = syntheticHtml(Graft.documents(s, d))
        .select(concat(lit("https://corpus.example/doc/"), col("doc_id")).as("uri"),
          col("html").cast("binary").as("payload"))
      graft.sources.Warc.writeShards(h, "uri", "payload", out, shards = 4)
      import s.implicits._
      val stream = s.readStream.format("binaryFile")
        .schema(s.read.format("binaryFile").load(s"$out/*.warc").schema)
        .option("maxFilesPerTrigger", 1)
        .load(s"$out/*.warc")
        .select("content").as[Array[Byte]]
        .flatMap { b =>
          graft.sources.Warc.readStream(new java.io.ByteArrayInputStream(b))
            .map { case (uri, _, payload) => (uri, new String(payload, "UTF-8")) }
        }
        .toDF("uri", "html")
      graft.streaming.StreamingQueries.runAppendToMemory(s, "s_warc_stream", stream)
        .select(
          regexp_extract(col("uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("html"))
    }),

    "s_warc_corrupt_tail" -> ((s, d) => {
      // WARC torn-tail recovery: 4 DETERMINISTIC shards (doc_id%4,
      // doc_id-ordered), shard 3 loses its final 6 bytes (the terminator
      // and payload tail of its LAST record — the max doc_id of the
      // class, which must drop) and shard 2 gains appended garbage (a
      // bad version line: all real records survive, only the bogus tail
      // is abandoned). The permissive walk keeps every CRLF-framed
      // verified record, reports the loss through the observe metric,
      // and can never surface a truncated payload. Oracle states the
      // exact surviving set.
      val out = scratchDir("warccorrupt")
      val docs = Graft.documents(s, d)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      (0 until 4).foreach { i =>
        syntheticHtml(docs.where(pmod(col("doc_id"), lit(4)) === i))
          .select(col("doc_id"),
            concat(lit("https://corpus.example/doc/"), col("doc_id")).as("uri"),
            col("html").cast("binary").as("payload"))
          .coalesce(1).sortWithinPartitions("doc_id")
          .select("uri", "payload")
          .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            val p = java.nio.file.Paths.get(out, f"part-$i%05d.warc")
            val os = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(p))
            try it.foreach { r =>
              graft.sources.Warc.writeRecord(os, r.getString(0),
                "urn:graft:fixed", r.getAs[Array[Byte]](1))
            } finally os.close()
          }
      }
      val s3 = java.nio.file.Paths.get(out, "part-00003.warc")
      val b3 = java.nio.file.Files.readAllBytes(s3)
      java.nio.file.Files.write(s3, java.util.Arrays.copyOf(b3, b3.length - 6))
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "part-00002.warc"),
        "GARBAGE\r\n".getBytes("US-ASCII"), java.nio.file.StandardOpenOption.APPEND)
      graft.sources.Warc.readPermissive(s, out)
        .select(
          regexp_extract(col("uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("payload").cast("string").as("html"))
    }),

    "txt_html_extract" -> ((s, d) => {
      // crawl-HTML -> plain text (the WET extraction, stage one of
      // every web pipeline): drop script/style whole, strip markup,
      // decode the core entities, collapse whitespace. Pure codegen'd
      // regexp chain over the synthetic page fixture (the dd_url
      // device) — zero shuffles, and the oracle replays the identical
      // chain, so the extraction is certified end-to-end.
      val h = syntheticHtml(Graft.documents(s, d))
      h.select(col("doc_id"),
          TextFunctions.htmlTextFast(col("html")).as("text_clean"))
        .withColumn("clean_chars", length(col("text_clean")).cast("long"))
    }),

    "txt_html_links" -> ((s, d) => {
      // anchor extraction (the crawl-graph edge builder: href + anchor
      // text per link, link order preserved) — regexp_extract_all over
      // the same synthetic pages, posexplode keeps the scan one pass.
      // Both capture groups zip BEFORE the explode (r17, same device as
      // pp_anchor_text): a post-explode element_at(regexp_extract_all)
      // would re-run the full-document regex once per anchor row.
      // These edges are what g_pagerank's host graph consumes upstream.
      val h = syntheticHtml(Graft.documents(s, d))
      // link_idx is the tag's ordinal among ALL <a …> tags in the page
      // (hrefless anchors keep their slot but emit no edge) — the
      // filter sits below the index so both engines agree on it.
      h.select(col("doc_id"),
          posexplode(arrays_zip(
            regexp_extract_all(col("html"), lit(anchorPat), lit(1)).as("attrs"),
            regexp_extract_all(col("html"), lit(anchorPat), lit(2)).as("anchor"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("link_idx"),
          hrefFromAttrs(col("col.attrs")).as("href"), col("col.anchor").as("anchor"))
        .where(col("href").isNotNull)
    }),

    "pp_mlm_mask_streaming" -> ((s, d) => {
      // MLM masking AT INGEST through the real streaming engine — the
      // same deterministic hash lambda per micro-batch, stateless
      // append, so the converged table equals the batch pass and shares
      // pp_mlm_mask's oracle verbatim. Single-evaluation mask array
      // (r17) — same two-Project device as the batch twin: one md5 per
      // token, both outputs derived from the boolean array.
      val docs = graft.streaming.StreamingQueries.readStreamParquet(s, d, "documents")
      val out = docs
        .select(col("doc_id"), split(col("text"), "\\s+").as("_toks"))
        .select(col("doc_id"), col("_toks"),
          transform(col("_toks"), (t, i) => length(t) > 0 &&
            conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
              i.cast("string"))), 1, 8), 16, 10).cast("long") % 100 < 15).as("_mask"))
        .select(col("doc_id"),
          concat_ws(" ", zip_with(col("_toks"), col("_mask"),
            (t, m) => when(m, lit("[MASK]")).otherwise(t))).as("masked_text"),
          aggregate(col("_mask"), lit(0L),
            (acc, m) => acc + when(m, 1L).otherwise(0L)).as("n_masked"))
      graft.streaming.StreamingQueries.runAppendToMemory(s, "pp_mlm_stream", out)
    }),

    "txt_html_extract_streaming" -> ((s, d) => {
      // WET extraction AT ARRIVAL through the real streaming engine —
      // the crawl-ingest shape (pages land, text extracts per
      // micro-batch): the same codegen'd chain over a parquet stream,
      // stateless append, so the converged table equals the batch pass
      // and shares txt_html_extract's oracle verbatim.
      val docs = graft.streaming.StreamingQueries.readStreamParquet(s, d, "documents")
      val out = syntheticHtml(docs)
        .select(col("doc_id"), TextFunctions.htmlTextFast(col("html")).as("text_clean"))
        .withColumn("clean_chars", length(col("text_clean")).cast("long"))
      graft.streaming.StreamingQueries.runAppendToMemory(s, "txt_html_stream", out)
    }),

    "pp_blocklist" -> ((s, d) => {
      // domain-blocklist filtering (the UT1/URL-blocklist gate every
      // crawl pipeline runs): a host is blocked if it equals an entry
      // or sits under one (suffix at a dot boundary). The scalable
      // shape is suffix EXPLOSION (a host emits its <=4 dot-boundary
      // suffixes) joined against the broadcast blocklist — per-row
      // work bounded by label count, never a regex-per-entry scan; the
      // survivors anti-join on the matched ids.
      import s.implicits._
      val docs = Graft.documents(s, d)
      val hosts = docs.select(col("doc_id"),
        concat(lit("sub"), pmod(col("doc_id"), lit(5)), lit(".example"),
          pmod(col("doc_id"), lit(7)), lit(".com")).as("host"))
      val block = Seq("example0.com", "example3.com", "sub2.example5.com")
        .toDF("entry")
      val parts = split(col("host"), "\\.")
      val suffixes = hosts.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(parts)),
          i => array_join(slice(parts, i, size(parts)), "."))).as("suffix"))
      val blockedIds = suffixes.join(broadcast(block),
        col("suffix") === col("entry")).select("doc_id").distinct()
      hosts.join(blockedIds, Seq("doc_id"), "left_anti")
    }),

    "txt_tfidf" -> ((s, d) =>
      // TF-IDF featurization; fully oracle-checkable (smooth idf, 4dp)
      TextFunctions.tfidf(Graft.documents(s, d), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")),

    "txt_bm25" -> ((s, d) =>
      // Okapi BM25 retrieval scoring (k1=1.2, b=0.75) against a fixed
      // query-term set with mixed document frequencies (dup is rare →
      // positive idf; the rest are corpus-common → negative idf, the
      // standard Robertson behavior, certified not clamped). Exact
      // arithmetic end to end: detLn idf, integer-rational saturation
      // term, per-term micro-unit quantization BEFORE the
      // order-independent BIGINT sum — fully oracle-checkable
      TextFunctions.bm25(Graft.documents(s, d), "doc_id", "text",
        Seq("dup", "spark", "merge", "vector"))),

    "txt_bm25_streaming" -> ((s, d) => {
      // BM25 under the REAL streaming engine: micro-batches (ascending
      // doc_id thirds) each contribute their own per-doc stats to
      // idempotent per-batch state stores; the converged accumulated
      // state feeds literally the batch scoring core
      // (TextFunctions.bm25Score), so the entry shares txt_bm25's
      // oracle verbatim — retrieval-stats-at-ingest parity.
      val docs = Graft.documents(s, d)
      graft.streaming.StreamingQueries.harnessBatches(docs, "doc_id") match {
        case None =>
          docs.select(col("doc_id"), lit(0).as("n_hit"), lit(0L).as("bm25_micro")).limit(0)
        case Some(batchOf) =>
          graft.streaming.StreamingQueries.runBm25Stream(
            s, docs, batchOf, Seq("dup", "spark", "merge", "vector"), tag = "bm25")
      }
    }),

    "q_hybrid_retrieval" -> ((s, d) => {
      // hybrid retrieval, the RAG-corpus curation shape: lexical BM25
      // top-20 fused with semantic exact-cosine top-20 (query = vec 0)
      // by Reciprocal Rank Fusion. Every fused score is exact integer
      // arithmetic (1e6 div (60+rank)), so the whole composition hash-
      // matches. Scale shape: the bm25 top-k arrives via orderBy+limit
      // (TakeOrderedAndProject = per-partition heaps, no global sort);
      // the single-partition rank window below touches <= 20 rows BY
      // CONSTRUCTION (post-limit), the bounded-by-construction pattern
      // Windows.scala's 1-row probes also use; the semantic side is the
      // certified ann_brute broadcast shape.
      import org.apache.spark.sql.expressions.Window
      val lexTop = TextFunctions.bm25(Graft.documents(s, d), "doc_id", "text",
          Seq("dup", "spark", "merge", "vector"))
        .orderBy(col("bm25_micro").desc, col("doc_id").asc).limit(20)
      val lw = Window.orderBy(col("bm25_micro").desc, col("doc_id").asc) // bounded-by-construction (<=20 rows post-limit)
      val lex = lexTop.withColumn("lex_rank", row_number().over(lw))
        .select(col("doc_id"), col("lex_rank"))
      val emb = Graft.embeddings(s, d)
      val sem = Ann.bruteForceTopK(emb, emb.where(col("vec_id") === 0L),
          "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("sem_rank"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf_micro",
          coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + sem_rank)"), lit(0L)))
        .select("doc_id", "lex_rank", "sem_rank", "rrf_micro")
    }),

    "txt_unigram_lp" -> ((s, d) =>
      // corpus-trained unigram LM scoring (perplexity proxy): integer
      // micro-nat summation keeps the per-doc sum layout-invariant —
      // fully oracle-checkable
      TextFunctions.unigramLmScore(Graft.documents(s, d), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")),

    "txt_bigram_lp" -> ((s, d) =>
      // corpus-trained bigram LM scoring: mean conditional surprisal
      // -ln P(w2|w1) in integer micro-nats — the repetition-aware
      // next-order companion to txt_unigram_lp, fully oracle-checkable
      TextFunctions.bigramLmScore(Graft.documents(s, d), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")),

    "txt_ppl_buckets" -> ((s, d) =>
      // CCNet-style head/middle/tail perplexity terciles per language
      // (Wenzek et al. 2020) — the curation cut CCNet popularized,
      // composed from the unigram LM's integer micro-nat surprisal.
      // Thresholds are exact discrete terciles via the cumulative
      // (lang, score) histogram with integer cross-multiplied cuts
      // (3·cum ≥ n) — scalable (window over distinct scores only) and
      // bit-portable (no float fractions, no percentile buffers).
      TextFunctions.perplexityBuckets(Graft.documents(s, d), "doc_id", "text", "lang")
        .withColumnRenamed("doc", "doc_id")),

    "txt_classifier" -> ((s, d) =>
      // model-based quality filtering (fastText/CCNet/DCLM-style): a
      // frozen hashed-linear model scores every doc in ONE codegen'd
      // scan (native linear_score kernel), keep decision by integer
      // cross-multiplication — fully oracle-checkable (ClassifierOracleSql
      // replays token XXH64 + the weight rule in BIGINT arithmetic)
      TextFunctions.classifierScore(Graft.documents(s, d), "doc_id", "text",
        buckets = 1 << 20, thrMilli = 0L)),

    "txt_diversity" -> ((s, d) =>
      // Gini-Simpson token diversity quality signal — rational arithmetic
      // only, so it replays bit-exactly cross-engine (Shannon entropy's
      // log2 terms differ in the last libm ulp; tokenEntropy ships too
      // but is ScalaTest-verified instead)
      Graft.documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenDiversity(col("text")).as("diversity"))),

    "txt_redact" -> ((s, d) =>
      // PII redaction: the corpus text is synthetic word-bags, so plant a
      // deterministic email/IP/phone per doc and redact — the oracle
      // plants and redacts identically (RE2-compatible patterns)
      Graft.documents(s, d).select(
        col("doc_id"),
        TextFunctions.redactPii(concat(
          col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com at 10.0.0.7 or +1 (555) 123-4567 now")))
          .as("redacted"))),

    "txt_rollinghash" -> ((s, d) => {
      // native Catalyst expression (graft.functions.RollingHash) via the
      // SQL function registered by GraftExtensions; engine-specific value
      // → RollingHashSpec checks the expression against a reference impl
      Graft.documents(s, d).createOrReplaceTempView("docs_rh")
      s.sql("SELECT doc_id, rolling_hash(text) AS rh FROM docs_rh")
    }),

    // ---- multimodal -------------------------------------------------------
    "mm_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.toAssets(Graft.documents(s, d), "doc_id", "text"))),

    "mm_quantize" -> ((s, d) => {
      // int8 scalar quantization of the embedding store — the 4x
      // float32→byte codec every 100 TB vector corpus runs before
      // anything else. Pure per-row codegen'd scan (no shuffle, no
      // UDF); fidelity certified per vector as the cosine between the
      // original and its dequantized reconstruction. Codes surface as
      // exact integer aggregates (sum, L1) rather than the raw array —
      // hash-friendly and dimension-independent.
      import graft.functions.VectorFunctions
      val emb = Graft.embeddings(s, d)
      val q = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        VectorFunctions.quantizeInt8(col("embedding")).as("_q"))
      val dq = VectorFunctions.dequantizeInt8(col("_q"))
      val dot = aggregate(zip_with(col("v"), dq, (a, b) => a * b), lit(0.0), (x, y) => x + y)
      def nrm(c: org.apache.spark.sql.Column) =
        sqrt(aggregate(transform(c, x => x * x), lit(0.0), (x, y) => x + y))
      q.select(col("vec_id"),
        size(col("_q.codes")).as("n_dims"),
        round(col("_q.scale"), 6).as("scale6"),
        aggregate(col("_q.codes"), lit(0L), (a, c) => a + c).as("codes_sum"),
        aggregate(col("_q.codes"), lit(0L), (a, c) => a + abs(c)).as("codes_l1"),
        round(when(nrm(col("v")) === 0.0 || nrm(dq) === 0.0, lit(0.0))
          .otherwise(dot / (nrm(col("v")) * nrm(dq))), 6).as("cos_fid6"))
    }),

    "mm_frames" -> ((s, d) =>
      // video-shaped frame sampling over binary payloads (every 4th
      // 32-byte frame); frames decoded to string for the oracle compare
      // (ASCII corpus)
      Multimodal.sampleFrames(
          Multimodal.toAssets(Graft.documents(s, d), "doc_id", "text"),
          frameBytes = 32, everyNth = 4)
        .select(col("asset_id"), col("frame_idx"), col("frame").cast("string").as("frame_str"))),

    "mm_resize" -> ((s, d) =>
      // image-shaped 2D stride downsample (every 2nd row and column of a
      // 32-byte-wide raster); resize2d keeps bytes — cast to string here
      // only for the oracle compare (ASCII corpus) — fully
      // oracle-checkable
      Multimodal.resize2d(
          Multimodal.toAssets(Graft.documents(s, d), "doc_id", "text"),
          rowWidth = 32, stride = 2)
        .select(col("asset_id"), col("resized").cast("string").as("resized"))),

    "mm_decode" -> ((s, d) => {
      // REAL codec round-trip through the decode seam (r10 verdict #4):
      // each doc becomes a spec-conformant BMP (even ids) or PCM WAV
      // (odd ids) whose header fields derive arithmetically from
      // (doc_id, n_chars); Multimodal.decodeMedia parses the bytes back
      // with genuine little-endian header parsing + RIFF chunk walking,
      // and the oracle recomputes the expected fields from the same
      // integer formulas — a parser or builder bug breaks the match.
      // (Golden hand-computed header bytes in FunctionsSpec pin the
      // format itself, so builder+parser can't be wrong together.)
      // Scale shape: generation and decode are both partition-local
      // scans — no shuffle, no driver involvement.
      Multimodal.decodeMedia(Multimodal.syntheticMediaAssets(Graft.documents(s, d)))
    }),

    "mm_decode_jpeg" -> ((s, d) => {
      // REAL compressed-format decode (r11 verdict #8): each doc becomes
      // a spec-conformant baseline JPEG (Annex-K Huffman coding, DQT,
      // SOF0, restart markers) and decodes back through the FULL
      // pipeline — entropy decode → dequantize → IDCT → level shift →
      // crop. Flat DC-only blocks under q00 = 8 make the lossy path
      // bit-exact, so the oracle replays decoded pixels arithmetically;
      // JpegSpec cross-validates the codec against the JDK's own
      // ImageIO JPEG coder so builder+parser can't be wrong together.
      // Scale shape: generation and decode are partition-local scans.
      Multimodal.decodeJpegBlocks(Multimodal.syntheticJpegAssets(Graft.documents(s, d)))
    }),

    "mm_decode_jpeg_streaming" -> ((s, d) => {
      // the JPEG decode under the REAL streaming engine: the same
      // fixture generation + full decode pipeline mapped over a
      // streaming parquet read of documents (stateless, append mode),
      // drained via AvailableNow to a memory sink. Shares
      // mm_decode_jpeg's oracle verbatim — decode-at-ingest parity.
      val assets = Multimodal.syntheticJpegAssets(
        graft.streaming.StreamingQueries.readStreamParquet(s, d, "documents"))
      graft.streaming.StreamingQueries.runAppendToMemory(
        s, "mm_decode_jpeg_streaming", Multimodal.decodeJpegBlocks(assets))
    }),

    "mm_jpeg_coefs" -> ((s, d) => {
      // the general (lossless) JPEG entropy layer certified exactly:
      // 3-component interleaved MCUs, per-component DC predictors,
      // luminance + chrominance Huffman tables, formula-placed nonzero
      // ACs incl. zigzag position 63 (forcing ZRL runs), restart resets.
      // ac_pos_sum pins the zigzag POSITIONS, not just the value set.
      Multimodal.decodeJpegCoefStats(Multimodal.syntheticJpegCoefAssets(Graft.documents(s, d)))
    }),

    "mm_jpeg_420" -> ((s, d) => {
      // the SUBSAMPLED (4:2:0) entropy layer certified exactly: luma
      // 2x2 + chroma 1x1 interleaved MCUs, per-component grids of
      // DIFFERENT sizes (luma 4x the chroma block count), predictors
      // spanning the nested T.81 A.2.3 block walk, restart resets on
      // odd ids. decodeJpegCoefStats walks each component's own grid,
      // so a block landing at the wrong grid slot breaks the hash.
      Multimodal.decodeJpegCoefStats(Multimodal.syntheticJpeg420Assets(Graft.documents(s, d)))
    }),

    "mm_jpeg_rgb" -> ((s, d) => {
      // COLOR out: 4:2:0 decode + JFIF YCbCr->RGB with replication
      // chroma upsampling, certified bit-exactly — flat DC-only
      // Y/Cb/Cr blocks make the lossy path exact, and the conversion's
      // half-up rounding is written floor(v + 0.5) on BOTH engines
      // (DuckDB round() is half-away-from-zero — the floor form is the
      // cross-engine-safe spelling). Each 8x8 chroma block colors a
      // 2x2 luma-block region, so a misaligned upsample breaks the hash.
      Multimodal.jpegRgbBlocks(Multimodal.syntheticJpegColorAssets(Graft.documents(s, d)))
    }),

    "mm_decode_png" -> ((s, d) => {
      // REAL compressed-format decode #2 — PNG with a genuine
      // general-purpose compressor: each doc becomes a spec-conformant
      // 8-bit gray/RGB PNG (zlib/DEFLATE IDAT, CRC-32 chunks, filter
      // tag (id+y)%5 so all five scanline filters — None/Sub/Up/
      // Average/Paeth — appear in certified bytes; id%4==0 splits the
      // stream across two IDAT chunks) and decodes back through the
      // FULL pipeline: chunk walk → CRC verify → Inflater → unfilter.
      // PNG is lossless, so the oracle replays every pixel exactly; the
      // position-weighted sum pins pixels to coordinates. PngSpec
      // cross-validates the codec against the JDK's own ImageIO PNG
      // coder both ways so builder+parser can't be wrong together.
      // Scale shape: generation and decode are partition-local scans.
      Multimodal.decodePngChannels(Multimodal.syntheticPngAssets(Graft.documents(s, d)))
    }),

    "mm_decode_png_streaming" -> ((s, d) => {
      // the PNG decode under the REAL streaming engine: same fixture
      // generation + full decode pipeline mapped over a streaming
      // parquet read of documents (stateless, append mode), drained via
      // AvailableNow to a memory sink. Shares mm_decode_png's oracle
      // verbatim — decode-at-ingest parity.
      val assets = Multimodal.syntheticPngAssets(
        graft.streaming.StreamingQueries.readStreamParquet(s, d, "documents"))
      graft.streaming.StreamingQueries.runAppendToMemory(
        s, "mm_decode_png_streaming", Multimodal.decodePngChannels(assets))
    }),

    "mm_resize_box" -> ((s, d) => {
      // the real thumbnail resize over DECODED pixels: full PNG decode,
      // then a 2x2 box-filter average in integer arithmetic (floor
      // division, so the oracle replays it exactly); output grid is
      // floor(w/2) x floor(h/2) — only complete blocks emit, and a
      // 1-pixel axis yields an explicit zero-sum row, never a silently
      // missing one. Position-weighted sum pins each averaged value to
      // its coordinate. Partition-local scan end to end.
      Multimodal.boxDownsample(Multimodal.syntheticPngAssets(Graft.documents(s, d)))
    }),

    "mm_video_mjpeg_streaming" -> ((s, d) => {
      // the video path under the REAL streaming engine (stateless map
      // over a streaming parquet read, append mode, AvailableNow ->
      // memory sink); shares mm_video_mjpeg's oracle verbatim.
      val assets = Multimodal.syntheticMjpegAviAssets(
        graft.streaming.StreamingQueries.readStreamParquet(s, d, "documents"))
      graft.streaming.StreamingQueries.runAppendToMemory(
        s, "mm_video_mjpeg_streaming", Multimodal.mjpegSampledFrames(assets, everyNth = 2))
    }),

    "mm_video_scenes" -> ((s, d) => {
      // SHOT-BOUNDARY detection (r14) — the per-scene sampling stage of
      // video training-data prep (sample frames per SCENE, not per
      // second, so a static shot contributes one exemplar instead of
      // hundreds): every frame decodes through the full container+JPEG
      // path (everyNth = 1), per-frame mean intensity (flat DC-only
      // frames: min == max == mean, exact), then a lag window per asset
      // marks frame i a boundary iff |intensity_i − intensity_{i−1}|
      // exceeds the threshold (frame 0 always opens a scene; its delta
      // surfaces as −1). The fixture's (doc_id·7 + idx·19) % 256 ramp
      // makes wrap points genuine scene cuts (delta 237) and the rest
      // continuous motion (delta 19), so both branches are certified.
      // Scale shape: decode is a partition-local scan; the lag window
      // shuffles once on asset_id — frames of one asset are few and
      // co-located, never a global sort.
      val frames = Multimodal.mjpegSampledFrames(
        Multimodal.syntheticMjpegAviAssets(Graft.documents(s, d)), everyNth = 1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("asset_id").orderBy("frame_idx")
      frames.select(col("asset_id"), col("frame_idx"), col("px_min").as("intensity"))
        .withColumn("delta", abs(col("intensity") - lag(col("intensity"), 1).over(w)))
        .withColumn("is_scene", col("delta").isNull || col("delta") > 32)
        .withColumn("delta", coalesce(col("delta"), lit(-1)).cast("int"))
    }),

    "mm_video_mjpeg" -> ((s, d) => {
      // REAL video decode + frame sampling: each doc becomes a genuine
      // single-stream MJPEG AVI (nested RIFF LISTs: avih/strh/strf
      // headers + a 'movi' list of '00dc' chunks, each an independent
      // baseline JPEG); the decode side walks the container, samples
      // every 2nd frame, and runs ONLY the sampled frames through the
      // full JPEG pipeline — unsampled frames are never entropy-decoded,
      // which is the point of frame sampling at 100 TB. Flat DC-only
      // frames make the luma extrema exact, so the oracle replays the
      // per-frame formula plus the avih-declared frame count.
      // Scale shape: generation and decode are partition-local scans.
      Multimodal.mjpegSampledFrames(
        Multimodal.syntheticMjpegAviAssets(Graft.documents(s, d)), everyNth = 2)
    }),

    "dd_image_phash" -> ((s, d) => {
      // image exact-dedup via perceptual hash: real PNGs decode through
      // the full pipeline, dHash samples a 9x8 grid with the exact
      // integer nearest-neighbor map and packs 64 gradient bits (as two
      // 32-bit halves so no engine touches the sign bit), then a WINDOW
      // count over the hash annotates every asset with its duplicate-
      // cluster size — the dd_exact shape applied to images: ONE decode
      // scan, ONE hash exchange, linear output (see imagePhash). The oracle
      // replays the grid/compare/pack arithmetic per asset AND the
      // cluster sizes (the sf0.01 fixture yields real collisions:
      // ~19k exact-hash pairs, so n_dup > 1 rows certify the grouping).
      imagePhash(Graft.documents(s, d))
    }),

    "dd_image_resolve" -> ((s, d) => {
      // image dedup RESOLUTION: every asset maps to its cluster's
      // canonical representative (lowest asset_id sharing the exact
      // dHash — the deterministic survivor rule the text resolve family
      // uses), and keep = (asset == canonical). Same single-scan +
      // single-hash-exchange window shape as dd_image_phash; a 100 TB
      // dedup pass keeps the keep=true rows and rewrites references
      // through the (asset -> canonical) map. Definition shared with
      // the scale audit (imageResolve).
      imageResolve(Graft.documents(s, d))
    }),

    "dd_image_neardup" -> ((s, d) => {
      // NEAR-dup image pairs in Hamming space: canonical dHashes → 8×8-bit
      // band blocking (pigeonhole-complete through distance 7) → exact
      // popcount verify at <= 3 (see imageNearDup — the MinHash-LSH
      // structure in bit space; the oracle is the full O(n²) pair scan
      // over canonical hashes, equal by the banding guarantee).
      imageNearDup(Graft.documents(s, d))
    }),

    "dd_image_phash_dct" -> ((s, d) => {
      // robust perceptual DCT hash (VERDICT r12 #6): PNG decode →
      // grayscale → 32×32 nearest-neighbor resize → separable
      // FIXED-POINT 32-point DCT (round(4096·cos) basis, the libjpeg
      // integer-DCT device) keeping the low-frequency 8×8 corner →
      // exact 32nd-smallest AC median → 64 threshold bits. Versus
      // dHash's adjacent gradients, pHash thresholds global low-
      // frequency structure, so rescaled/smoothed/re-encoded copies
      // keep their bits. Integer arithmetic END TO END, so the DuckDB
      // oracle replays pixel formula + the SAME cosine table + median
      // + packing with zero float surface. Scan-local, zero exchanges.
      Multimodal.imagePHashDct(Multimodal.syntheticPngAssets(Graft.documents(s, d)))
    }),

    "dd_image_neardup_dct" -> ((s, d) => {
      // the banded-Hamming near-dup join fed by the DCT pHash — the
      // SAME 8-band × 8-bit machinery as dd_image_neardup
      // (bandedHammingPairs), so the pigeonhole recall guarantee holds
      // verbatim: any pair at Hamming ≤ 7 shares a whole band, hence
      // the ≤ 3 threshold is provably complete; exact bit_count(xor)
      // verify. Oracle: full O(n²) scan over canonical pHashes.
      bandedHammingPairs(
        Multimodal.imagePHashDct(Multimodal.syntheticPngAssets(Graft.documents(s, d))),
        "phash_hi", "phash_lo", maxHam = 3)
    }),

    "mm_audio_fft" -> ((s, d) => {
      // REAL DSP feature extraction: each doc becomes a mono 16-bit PCM
      // WAV whose 64-sample frames are pure sinusoids at integer bins
      // k = 1 + (id + 3f) % 31; the decode side chunk-walks the WAV,
      // reads little-endian int16 samples, runs a radix-2 FFT per frame
      // and reports argmax |X|² over the positive bins. Integer-bin
      // tones make the argmax exactly k (int16 rounding noise is 4
      // orders of magnitude down), so the oracle replays k
      // arithmetically — no cross-engine float surface. DspSpec
      // certifies the FFT kernel against a naive DFT, Parseval, and
      // closed forms. Scale shape: partition-local scans end to end.
      Multimodal.audioSpectralFrames(Multimodal.syntheticToneWavAssets(Graft.documents(s, d)))
    }),

    "mm_audio_fft_streaming" -> ((s, d) => {
      // the FFT feature extraction under the REAL streaming engine
      // (stateless map over a streaming parquet read, append mode,
      // AvailableNow → memory sink); shares mm_audio_fft's oracle
      // verbatim — featurize-at-ingest parity.
      val assets = Multimodal.syntheticToneWavAssets(
        graft.streaming.StreamingQueries.readStreamParquet(s, d, "documents"))
      graft.streaming.StreamingQueries.runAppendToMemory(
        s, "mm_audio_fft_streaming", Multimodal.audioSpectralFrames(assets))
    }),

    "mm_audio_mel" -> ((s, d) => {
      // MEL-SPECTROGRAM features on the FFT kernel (VERDICT r12 #4):
      // per frame, 6 triangular mel-filterbank band energies as integer
      // milli-fractions of total positive-bin power. The fixture's
      // integer-bin tones concentrate all power at bin k, so band m's
      // fraction equals the triangular weight w_m(k) — a small rational
      // the oracle replays in EXACT integer arithmetic
      // ((2000p + q) div 2q, i.e. round-half of 1000·p/q); the int16
      // noise floor is 6 orders of magnitude inside every boundary.
      // Filterbank edges are the HTK mel grid snapped to integer FFT
      // bins (Multimodal.melCenters64, re-derived in DspSpec). Scale
      // shape: partition-local scan end to end, zero exchanges.
      Multimodal.audioMelFrames(Multimodal.syntheticToneWavAssets(Graft.documents(s, d)))
    }),

    "mm_audio_mel_streaming" -> ((s, d) => {
      // mel featurization under the REAL streaming engine (stateless
      // map, append mode, AvailableNow → memory sink); shares
      // mm_audio_mel's oracle verbatim — featurize-at-ingest parity.
      val assets = Multimodal.syntheticToneWavAssets(
        graft.streaming.StreamingQueries.readStreamParquet(s, d, "documents"))
      graft.streaming.StreamingQueries.runAppendToMemory(
        s, "mm_audio_mel_streaming", Multimodal.audioMelFrames(assets))
    }),

    "mm_audio_decimate" -> ((s, d) => {
      // decimate-by-2 resampling with the ALIAS FOLD as the certified
      // contract: tone k < 16 stays at k, k > 16 folds to 32−k, k = 16
      // decimates to EXACT silence (integer-zero samples — the flag has
      // no float surface; the all-zero argmax is deterministically bin
      // 1 on both engines). The bare-decimation aliasing law is what an
      // ingest pipeline must reason about before choosing a filter.
      Multimodal.audioDecimateFeatures(
        Multimodal.syntheticToneWavAssets(Graft.documents(s, d)))
    }),

    "mm_audio_fingerprint" -> ((s, d) => {
      // acoustic fingerprint (r13): 16 bits per frame × 4 frames — the
      // chromaprint-style shape at miniature scale — each frame packing
      // its dominant bin + purity + argmax mel band + quantized top-band
      // milli, all from the certified kernels. Every field is exact
      // integer arithmetic the oracle replays (the tones' spectral facts
      // are already hash-proven via mm_audio_fft/mm_audio_mel).
      // Scan-local, zero exchanges.
      Multimodal.audioFingerprint(Multimodal.syntheticToneWavAssets(Graft.documents(s, d)))
    }),

    "dd_audio_neardup" -> ((s, d) => {
      // NEAR-dup audio via the SAME banded-Hamming machinery as the
      // image paths — the third modality through one join shape
      // (bandedHammingPairs): canonical fingerprints → 8 bands × 8 bits
      // → pigeonhole-complete candidates through Hamming 7 → exact
      // bit_count(xor) verify at <= 3. Oracle: full O(n²) pair scan
      // over canonical fingerprints.
      bandedHammingPairs(
        Multimodal.audioFingerprint(Multimodal.syntheticToneWavAssets(Graft.documents(s, d))),
        "afp_hi", "afp_lo", maxHam = 3)
    }),

    "mm_text_image_score" -> ((s, d) => {
      // cross-modal consistency filter (r14, verdict ask #7) — the
      // CLIP-score-proxy gate on image-text pairs: a frozen two-tower
      // integer model (hashed token grams × dHash fingerprint bits,
      // factorized bilinear — Multimodal.textImageScore) scores each
      // pair and `kept` is the integer cross-multiplied decision.
      // SINGLE-SCAN pairing: text and image derive from the SAME
      // documents row, so one mapPartitions generates the PNG bytes
      // (syntheticPngBytes) and runs the FULL certified decode + dHash
      // (Png.decode → dHashOf — the imageDHash core, shared so the two
      // consumers can never drift) inline while the text column rides
      // along — one corpus scan, zero exchanges, towers in whole-stage
      // codegen downstream (PlanSpec pins scan count and exchange-
      // freeness). Oracle: CrossModalOracleSql replays token XXH64 +
      // both weight rules in BIGINT over the SHARED dhashCtes prefix.
      textImagePairsScore(Graft.documents(s, d))
    }),

    "mm_text_image_score_streaming" -> ((s, d) => {
      // the cross-modal scorer under the REAL streaming engine —
      // score-at-arrival parity: the same single-scan pairing +
      // two-tower kernel mapped over a streaming parquet read of
      // documents (stateless, append mode), drained via AvailableNow
      // to a memory sink. Shares mm_text_image_score's oracle verbatim.
      graft.streaming.StreamingQueries.runAppendToMemory(
        s, "mm_text_image_score_streaming",
        textImagePairsScore(
          graft.streaming.StreamingQueries.readStreamParquet(s, d, "documents")))
    }),

    "pp_ingest_crossmodal" -> ((s, d) => {
      // the PRODUCTION multimodal ingest chain (r14): image-text pairs
      // arrive in micro-batches, each batch passes the CROSS-MODAL
      // CONSISTENCY gate first (two-tower integer score, kept pairs
      // only — a LAION-style CLIP-score filter at arrival), then the
      // image-dedup gate (decode + dHash, drop hashes already in the
      // persisted corpus store or earlier batches, keep-min id).
      // Gate-everywhere semantics: the corpus store itself holds only
      // gate-passing corpus hashes — the corpus was built by this same
      // chain. Same idempotent per-batch stores as pp_ingest_media
      // (runMediaIngestStream; the composed gate rides the pluggable
      // hashFn seam). Ascending-id micro-batches make first-accepted ==
      // keep-min, so the converged output equals the batch statement
      // the oracle replays (CrossModalOracleSql.crossModalIngest).
      val docs = Graft.documents(s, d)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      graft.streaming.StreamingQueries.harnessBatches(batch, "doc_id") match {
        case None => batch.select(col("doc_id").as("asset_id"),
          lit(0L).as("dhash_hi"), lit(0L).as("dhash_lo")).limit(0)
        case Some(batchOf) =>
          graft.streaming.StreamingQueries.runMediaIngestStream(
            s, batch, corpus, batchOf, tag = "ppxmodal", hashFn = crossModalGatedHash,
            stageKey = Some(s"ppxmodal|$d"))
      }
    }),

    "mm_audio" -> ((s, d) =>
      // audio-shaped overlapping windows (64-byte window, 32-byte hop)
      // over binary payloads; windows decoded to string for the oracle
      // compare (ASCII corpus)
      Multimodal.slidingWindows(
          Multimodal.toAssets(Graft.documents(s, d), "doc_id", "text"),
          winBytes = 64, hopBytes = 32)
        .select(col("asset_id"), col("win_idx"), col("win").cast("string").as("win_str"))),

    // ---- graph / authority --------------------------------------------------
    "g_lpa" -> ((s, d) => {
      // label-propagation communities (r16) — the graph primitive
      // between degree counting and PageRank: dense regions converge to
      // one label while sparse bridges do NOT merge them (unlike
      // connected components). Deterministic synchronous variant (ties
      // to the min label), K=3 fixed rounds over the same derived link
      // graph, per-round checkpointed like g_pagerank; the oracle
      // unrolls the rounds as chained CTEs.
      val docs = Graft.documents(s, d)
      Graph.labelPropagation(Graph.syntheticLinkGraph(docs),
        docs.select(col("doc_id").as("node")), iterations = 3)
    }),

    "q_outliers" -> ((s, d) => {
      // integer-exact 3-sigma outlier flagging per event type (r16) —
      // the data-quality gate before a numeric column feeds training
      // features: (x − mean)² > 9·variance rearranged to the
      // denominator-free moment inequality (n·x − s)² > 9(n·q − s²)
      // over cent-quantized values, with EVERY quadratic-and-sum in
      // DECIMAL(38) from the operand up (ADVICE r16: the earlier form
      // aggregated sum(cents*cents) in int64 and cast AFTERWARDS — the
      // sum of squares overflows int64 BEFORE s² does (q ≥ s²/n), and
      // non-ANSI Spark wraps silently while DuckDB promotes sums to
      // HUGEINT, so at exactly the scale the guard exists for Spark
      // would flag wrong outliers. Casting the operand before the
      // aggregate keeps the whole moment chain exact; DECIMAL(38)
      // matches HUGEINT over the reachable range). ONE scan + a tiny
      // per-type stats broadcast — flagging rides the same pass that
      // computed nothing more than 3 moments.
      val ev = Graft.events(s, d).select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val cDec = col("cents").cast("decimal(38,0)")
      val stats = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(cDec).as("s1"),
        sum(cDec * col("cents")).as("q"))
      val dev = col("n").cast("decimal(38,0)") * col("cents") - col("s1")
      val varTerm = col("n").cast("decimal(38,0)") * col("q") -
        col("s1") * col("s1")
      ev.join(broadcast(stats), Seq("event_type"))
        .where(dev * dev > varTerm * lit(9))
        .select("event_id", "event_type", "cents")
    }),

    "q_outliers_streaming" -> ((s, d) => {
      // the 3-sigma outlier gate maintained AT INGEST by the real
      // streaming engine (r18) — completing the product-analytics
      // family's streaming twins (retention/DAU-WAU/funnel/outliers):
      // the streaming state is the per-type moment triple (n, Σx, Σx²)
      // — K rows, one complete-mode aggregation, with the quadratic
      // summed in DECIMAL(38) from the operand up (the q_outliers
      // exactness discipline holds on the stream too: a wrapped int64
      // Σx² flags wrong outliers at exactly the scale the gate exists
      // for, and the state store carries decimals exactly). Flagging is
      // a projection of the CONVERGED frame: the K-row stats broadcast-
      // join the batch events scan exactly as the batch form — moments
      // are the sufficient statistic, so no per-event streaming state
      // is ever held. Shares q_outliers's oracle verbatim.
      val cDec = col("cents").cast("decimal(38,0)")
      val stats = graft.streaming.StreamingQueries.runCompleteAggToMemory(
        s, d, "events", "q_outliers_stream",
        df => df.select(col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy("event_type").agg(
            count(lit(1)).as("n"), sum(cDec).as("s1"),
            sum(cDec * col("cents")).as("q")))
      val ev = Graft.events(s, d).select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val dev = col("n").cast("decimal(38,0)") * col("cents") - col("s1")
      val varTerm = col("n").cast("decimal(38,0)") * col("q") -
        col("s1") * col("s1")
      ev.join(broadcast(stats), Seq("event_type"))
        .where(dev * dev > varTerm * lit(9))
        .select("event_id", "event_type", "cents")
    }),

    "q_retention" -> ((s, d) => {
      // cohort retention (r16) — the canonical product-analytics
      // triangle: users cohorted by FIRST-activity week, activity
      // counted per (cohort week, activity week) as distinct users;
      // weeks are exact integer µs-epoch divisions. Scale shape: ONE
      // events scan — (user, week) dedup aggregation, then the cohort
      // week as a per-USER window over the already-deduped frame
      // (bounded rows per user = distinct active weeks; the
      // join-back-to-a-second-aggregation form scanned events twice,
      // r16 plan audit), then the triangle rollup.
      import org.apache.spark.sql.expressions.Window
      val wk = expr("ts_us div 604800000000")
      val active = Graft.events(s, d)
        .where(col("user_id").isNotNull)
        .select(col("user_id"), wk.as("wk")).distinct()
      active
        .withColumn("cohort_wk", min("wk").over(Window.partitionBy("user_id")))
        .groupBy("cohort_wk", "wk")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .withColumn("weeks_since", col("wk") - col("cohort_wk"))
        .select("cohort_wk", "wk", "weeks_since", "n_active")
    }),

    "q_retention_streaming" -> ((s, d) => {
      // the retention triangle maintained AT INGEST by the real
      // streaming engine (r18) — completing the product-analytics
      // family's streaming twins (q_dau_wau_streaming's device
      // verbatim): the streaming state is the (user, week) presence
      // cells — one complete-mode count aggregation, a SINGLE run (the
      // state-cleanup + recompute round stays t4_state_cleanup's and
      // pp_datacard_streaming's certification) — and the cohort week +
      // triangle rollup are projections of the CONVERGED frame (the
      // per-user window is bounded by distinct active weeks, never raw
      // events). Shares q_retention's oracle verbatim.
      import org.apache.spark.sql.expressions.Window
      val cells = graft.streaming.StreamingQueries.runCompleteAggToMemory(
        s, d, "events", "q_retention_stream",
        df => df.where(col("user_id").isNotNull)
          .select(col("user_id"), expr("(ts div 1000) div 604800000000").as("wk"))
          .groupBy("user_id", "wk").agg(count(lit(1)).as("n")))
      cells.select("user_id", "wk")
        .withColumn("cohort_wk", min("wk").over(Window.partitionBy("user_id")))
        .groupBy("cohort_wk", "wk")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .withColumn("weeks_since", col("wk") - col("cohort_wk"))
        .select("cohort_wk", "wk", "weeks_since", "n_active")
    }),

    "q_dau_wau" -> ((s, d) => {
      // DAU/WAU rolling-active-users (r17) — the other canonical
      // product-analytics table next to q_retention: per µs-epoch day
      // the distinct active users, and the 7-day-window count (distinct
      // users active in [day-6, day]). Scale shape (r18, guide §2.4):
      // ONE events scan → (user, day) dedup aggregation → bounded 7-way
      // day explode feeding a SINGLE aggregation
      // (distinct-over-sliding-window is NOT a sum of dailies — users
      // overlap days — and the explode keeps it one hash aggregation
      // instead of a range self-join). See [[dauWauFromCells]]; the
      // former dau-branch ⋈ wau-branch form scanned events twice (the
      // Generate above the wau branch specialized its dedup subtree out
      // of ReuseExchange) and paid a join. Only days with activity
      // report (dau >= 1 — exactly the days the old inner join kept).
      val day = expr("ts_us div 86400000000")
      val active = Graft.events(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), day.as("day")).distinct()
      dauWauFromCells(active)
    }),

    "q_funnel_steps" -> ((s, d) => {
      // ordered-funnel conversion (r17) — the product-analytics
      // sequence gate: of the users who VIEWed, how many CLICKed
      // strictly after their first view WITHIN the 24 h conversion
      // window, then PURCHASEd within 24 h of that first qualifying
      // click (the window is what makes the funnel discriminate —
      // unwindowed, any long-lived user converts eventually: 15/15/15
      // at sf0.001 vs 15/6/3 windowed; 150/60/25 at sf0.01). Scale
      // shape: each stage is a pushed-filter scan of the slim (user,
      // type, ts) columns reduced by a min-aggregation, hash-joined to
      // the previous stage's 2-column per-user frame — never a per-user
      // ordered buffer, never a window over raw events (the
      // first-timestamp-chaining device every funnel engine uses).
      val winUs = 86400000000L
      val ev = Graft.events(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), col("ts_us"))
      val t1 = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val t2 = ev.where(col("event_type") === "click")
        .join(t1, "user_id")
        .where(col("ts_us") > col("t1") && col("ts_us") <= col("t1") + lit(winUs))
        .groupBy("user_id").agg(min("ts_us").as("t2"))
      val t3 = ev.where(col("event_type") === "purchase")
        .join(t2, "user_id")
        .where(col("ts_us") > col("t2") && col("ts_us") <= col("t2") + lit(winUs))
        .groupBy("user_id").agg(min("ts_us").as("t3"))
      // r18 (guide §2.4): ONE execution of the stage chain — the former
      // three-branch union re-aggregated t1/t2/t3 separately (the t1
      // subtree executed under every branch); chaining two left joins
      // (t2 ⊆ t1, t3 ⊆ t2 by construction) gives one per-user frame
      // whose single 1-row aggregate carries all three counts, exploded
      // to the same three rows.
      // step-1 counts ROWS of the frame (= t1's rows by construction:
      // t2 ⊆ t1, t3 ⊆ t2, one row per user) rather than non-null t1 —
      // ADVICE r18 #1: a source whose view events all carry NULL ts_us
      // yields a t1 row with null min, which the old union form counted;
      // count(lit(1)) makes the single-execution equivalence
      // unconditional (identical on any data where ts_us is non-null)
      funnelCountRows(
        t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
          .agg(count(lit(1)).as("n1"), count(col("t2")).as("n2"),
            count(col("t3")).as("n3")))
    }),

    "q_dau_wau_streaming" -> ((s, d) => {
      // DAU/WAU maintained AT INGEST by the real streaming engine (r18,
      // VERDICT r17 #2) — the canonical incrementally-maintained table
      // next to pp_datacard_streaming, same device: the streaming state
      // is the (user, day) presence cells (one complete-mode count
      // aggregation — a SINGLE run; the state-cleanup + recompute round
      // is t4_state_cleanup's and pp_datacard_streaming's certification,
      // re-paying it here would only double the stream cost);
      // distinct-counts-over-sliding-windows are unsupported on streams
      // by design — and unnecessary, because the cells ARE the
      // sufficient statistic. DAU and the 7-day WAU derive
      // post-convergence exactly as the batch form derives them from
      // its deduped frame (bounded 7-way explode, never a range
      // self-join). Shares q_dau_wau's oracle verbatim.
      val cells = graft.streaming.StreamingQueries.runCompleteAggToMemory(
        s, d, "events", "q_dau_wau_stream",
        df => df.where(col("user_id").isNotNull)
          .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
          .groupBy("user_id", "day").agg(count(lit(1)).as("n")))
      // post-convergence derivation = the batch form's single-pass
      // explode+aggregate over the deduped cells (dauWauFromCells)
      dauWauFromCells(cells.select("user_id", "day"))
    }),

    "q_funnel_steps_streaming" -> ((s, d) => {
      // the funnel maintained by a per-user STATEFUL PROCESSOR through
      // the real streaming engine (r18, VERDICT r17 #2 — X1's
      // flatMapGroupsWithState machinery IS first-timestamp chaining):
      // micro-batches staged in ascending event-time order (the
      // Processors.funnelChain contract), per-user (t1, t2, t3) state
      // advancing the view → click → purchase chain, Update-mode
      // snapshots reduced to the converged row per user (fields are
      // write-once), then the same three step counts as the batch form.
      // Shares q_funnel_steps's oracle verbatim.
      import s.implicits._
      val winUs = 86400000000L
      // only view/click/purchase rows can advance any chain field — other
      // event types could only invoke groups with nothing to do — so the
      // stream stages 60% of the events and the converged snapshots (and
      // the oracle rows) are unchanged (r18 optimization, guide §2.3:
      // move fewer bytes through the stage+shuffle)
      val ev = Graft.events(s, d).where(col("user_id").isNotNull &&
          col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id").cast("long").as("user_id"),
          col("event_type"), col("ts_us").cast("long").as("ts_us"))
      graft.streaming.StreamingQueries
          .harnessBatches(ev.select(col("ts_us").as("id")), "id") match {
        case None =>
          ev.select(lit(1).as("step"), lit("view").as("step_name"),
            lit(0L).as("n_users")).limit(0)
        case Some(_) =>
          // ascending event-time thirds over the OBSERVED [min, max] ts
          // range (r18 fix: ts_us is epoch-scale, so the earlier
          // floor(ts·3/(max+1)) collapsed EVERY row into batch 2 — the
          // stream paid two no-data triggers and the cross-batch
          // write-once contract was exercised vacuously); staging is
          // session-cached per corpus (r18) — the bench's repeat reps
          // re-run the STREAM, not the byte-identical stage
          val stageKey = s"qfunnel|$d"
          val stream = graft.streaming.StreamingQueries
            .stageStreamBatchedCached(s, ev, "qfunnel", stageKey) {
              val r = ev.agg(min("ts_us"), max("ts_us")).head()
              val (lo, hi) = (r.getLong(0), r.getLong(1))
              least(floor((col("ts_us") - lit(lo)) * 3 / lit(hi - lo + 1)),
                lit(2)).cast("int")
            }
            .as[(Long, String, Long)]
          val snaps = graft.streaming.Processors.funnelChain(stream, winUs)
            .toDF("user_id", "t1", "t2", "t3")
          val conv = graft.streaming.StreamingQueries
            .runUpdateToMemory(s, "q_funnel_stream", snaps,
              graft.streaming.StreamingQueries.stagedBytes(stageKey))
            .groupBy("user_id")
            .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
          // r18 (guide §2.4): the three-branch union referenced the
          // `counts` aggregate three times and the memory-sink reduce
          // chain got NO exchange reuse (r18 plan audit: 24 Exchange /
          // 0 ReusedExchange — LocalTableScan subtrees re-executed per
          // branch); the literal-array explode runs the chain ONCE.
          funnelCountRows(conv.agg(
            sum(when(col("t1") >= 0, 1L).otherwise(0L)).as("n1"),
            sum(when(col("t2") >= 0, 1L).otherwise(0L)).as("n2"),
            sum(when(col("t3") >= 0, 1L).otherwise(0L)).as("n3")))
      }
    }),

    "pp_rank_shards" -> ((s, d) => {
      // data-parallel rank sharding (r17) — the assignment table a
      // multi-node training job derives from the corpus: each doc lands
      // on one of 8 ranks by the portable md5 bucket (the splitAssign/
      // interleave hash device — stable across runs, engines, and
      // re-ingestion), and the table reports per-rank docs, whitespace
      // tokens, and token share in exact basis points (the imbalance a
      // data-parallel job pads or waits on). ONE scan + one 8-row
      // aggregation; the share rides a window over the already-
      // aggregated rank-vocabulary frame (the pp_datacard device).
      import org.apache.spark.sql.expressions.Window
      val world = 8
      val rank = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % world).as("rank")
      val per = Graft.documents(s, d)
        .select(rank, TextFunctions.wsTokenCount(col("text")).cast("long").as("toks"))
        .groupBy("rank").agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
      val wAll = Window.partitionBy(expr("n_docs * 0L"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      per.withColumn("_tot", sum(col("n_tokens")).over(wAll))
        .withColumn("share_bp", expr("(n_tokens * 10000L) div _tot"))
        .select("rank", "n_docs", "n_tokens", "share_bp")
    }),

    "pp_corpus_fingerprint" -> ((s, d) => {
      // order-invariant corpus content fingerprint (r17) — the dataset
      // versioning primitive a reproducible-training release pins (the
      // "data hash" line on a data card): per doc a 63-bit content hash
      // (md5 hex prefix — engine-portable, the pp_mlm_mask device),
      // folded order-invariantly by exact integer SUM mod 2^63, plus
      // the doc count and distinct-content count. ONE scan, one tiny
      // aggregation — no sort, no collect; byte-identical across
      // layouts/engines by construction (any row order sums the same).
      val h = conv(substring(md5(col("text")), 1, 16), 16, 10)
        .cast("decimal(38,0)")
      val m = lit(new java.math.BigDecimal("9223372036854775808"))
      Graft.documents(s, d).select(h.as("h"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_distinct"),
          (sum(col("h")) % m).cast("long").as("content_sum"))
    }),

    "g_pagerank" -> ((s, d) => {
      // crawl-authority PageRank (Brin & Page 1998) over the derived
      // host-shaped link graph — the quality prior web-curation
      // pipelines weight documents by. Integer micro-unit ranks with
      // truncated-division contributions make the K=4 power iteration
      // bit-exact and order-independent (the micro-nat LM device), so
      // the DuckDB unrolled-CTE replay hash-matches. Scale shape: one
      // persisted degree-annotated edge list reused every round; each
      // round = one shuffle on src + one map-side-combinable hash agg on
      // dst; per-round checkpointing keeps the plan constant-size at any
      // K (the connectedComponents contract).
      val docs = Graft.documents(s, d)
      Graph.pageRank(Graph.syntheticLinkGraph(docs),
        docs.select(col("doc_id").as("node")), iterations = 4)
    }),

    "g_pagerank_seeded" -> ((s, d) => {
      // personalized PageRank (the crawl-frontier / trusted-seed prior:
      // teleport mass flows ONLY to the seed set — doc_id % 100 == 0 —
      // so ranks measure proximity to trusted domains). Same
      // integer-exact checkpointed rounds as g_pagerank; the per-seed
      // teleport is one integer division computed from two bounded
      // count probes.
      val docs = Graft.documents(s, d)
      val nodes = docs.select(col("doc_id").as("node"))
      Graph.personalizedPageRank(Graph.syntheticLinkGraph(docs), nodes,
        nodes.where(pmod(col("node"), lit(100)) === 0), iterations = 4)
    }),

    "g_degree" -> ((s, d) => {
      // per-node degree profile of the link graph (the hub/spoke skew
      // the PageRank mass follows): two hash aggregations + zero-filled
      // left joins, all map-side combinable — linear at any scale.
      val docs = Graft.documents(s, d)
      Graph.degrees(Graph.syntheticLinkGraph(docs),
        docs.select(col("doc_id").as("node")))
    }),

    "g_authority" -> ((s, d) => {
      // rank mass rolled up to the source (pseudo-host) grain — the
      // per-domain authority table a curation pipeline joins its
      // quality priors against (CCNet-style head/middle/tail weighting).
      // The doc->rank join shuffles on the dense node id; the rollup is
      // a low-cardinality hash agg with map-side partials.
      val docs = Graft.documents(s, d)
      val pr = Graph.pageRank(Graph.syntheticLinkGraph(docs),
        docs.select(col("doc_id").as("node")), iterations = 4)
      docs.join(pr, docs("doc_id") === pr("node"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("rank_micro").as("auth_micro"))
        .withColumn("mean_micro", expr("auth_micro div n_docs"))
    }),

    "mm_patchify" -> ((s, d) =>
      // ViT patch extraction over REAL decoded pixels: full PNG decode →
      // 8x8 luma lattice (the dHash sampling rule) → four 4x4 patches
      // with exact integer stats — the image-to-sequence step a ViT
      // dataloader runs, certified against the pixel-formula replay.
      Multimodal.imagePatches(
        Multimodal.syntheticPngAssets(Graft.documents(s, d)))),

    // ---- sketches ---------------------------------------------------------
    "sk_quantiles" -> ((s, d) => {
      // quantile sketch (approx_percentile ≈ Greenwald-Khanna) CERTIFIED
      // against exact percentiles in one query: per-key p50/p95/p99 as
      // ANSI percentile_disc — actual data elements, no interpolation
      // arithmetic, so DuckDB's percentile_disc hash-matches bit-exactly
      // — plus okXX booleans asserting the sketch estimate lands between
      // the exact (p−δ)/(p+δ) discrete quantiles (δ = 0.01, 100× the
      // sketch's 1/10000 rank-error guarantee; the oracle states TRUE).
      // The sketch stays in the plan (one mergeable sketch per key,
      // map-side partials); the exact columns are the oracle hook — at
      // 100 TB a caller keeps only the sketch column set.
      Graft.eventsStream(s, d).createOrReplaceTempView("skq_events")
      s.sql("""
        WITH g AS (
          SELECT value AS key,
                 percentile_disc(0.50) WITHIN GROUP (ORDER BY amount) AS p50,
                 percentile_disc(0.95) WITHIN GROUP (ORDER BY amount) AS p95,
                 percentile_disc(0.99) WITHIN GROUP (ORDER BY amount) AS p99,
                 percentile_disc(0.49) WITHIN GROUP (ORDER BY amount) AS lo50,
                 percentile_disc(0.51) WITHIN GROUP (ORDER BY amount) AS hi50,
                 percentile_disc(0.94) WITHIN GROUP (ORDER BY amount) AS lo95,
                 percentile_disc(0.96) WITHIN GROUP (ORDER BY amount) AS hi95,
                 percentile_disc(0.98) WITHIN GROUP (ORDER BY amount) AS lo99,
                 percentile_disc(0.995) WITHIN GROUP (ORDER BY amount) AS hi99,
                 approx_percentile(amount, array(0.50, 0.95, 0.99), 10000) AS q
          FROM skq_events GROUP BY value)
        SELECT key, p50, p95, p99,
               q[0] >= lo50 AND q[0] <= hi50 AS ok50,
               q[1] >= lo95 AND q[1] <= hi95 AS ok95,
               q[2] >= lo99 AND q[2] <= hi99 AS ok99
        FROM g""")
    }),

    "sk_bloom_prune" -> ((s, d) => {
      // bloom-join pruning — THE shuffle-reduction primitive for selective
      // joins at 100 TB: build a bloom filter over the small side's keys
      // (purchase users) ENTIRELY IN-PLAN with BloomFilterAggregate (the
      // same expression Spark's runtime row-level filtering injects),
      // hand it to the large side as a scalar subquery, and probe with
      // the codegen'd BloomFilterMightContain — ONE job, no driver-side
      // build action, no wrapper UDF (r10 verdict #3: the previous
      // stat.bloomFilter form ran a separate build job and a boxed probe
      // UDF). Insert and probe both hash with XxHash64 — the contract
      // BloomFilterAggregate defines. CERTIFIED since r6: the exact
      // semi-join count hash-matches DuckDB and the bloom's two
      // guarantees — no false negatives (pruned ⊇ exact) and
      // false-positive rate within 2× the configured fpp of the total
      // view count — are oracle-asserted booleans.
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      val ev = Graft.eventsStream(s, d)
      val purchases = ev.where(col("value") === "purchase").select(col("key"))
      val views = ev.where(col("value") === "view").select(col("key"))
      val nItems = 50000L
      val nBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(nItems, 0.01)
      val bloom = purchases.select(ColumnBridge.column(
        new BloomFilterAggregate(new XxHash64(Seq(ColumnBridge.expression(col("key")))),
          Literal(nItems), Literal(nBits)).toAggregateExpression()).as("bf"))
      val mightContain = ColumnBridge.column(BloomFilterMightContain(
        ColumnBridge.expression(bloom.scalar()),
        new XxHash64(Seq(ColumnBridge.expression(col("key"))))))
      // null keys: XxHash64(null) hashes to the seed (never null), so the
      // explicit isNotNull keeps the retired UDF's null-excluding contract
      val pruned = views.where(col("key").isNotNull && mightContain)
        .agg(count(lit(1)).as("_pruned"))
      val exact = views.join(purchases.distinct(), Seq("key"), "left_semi")
        .agg(count(lit(1)).as("exact_semi_views"))
      val total = views.agg(count(lit(1)).as("_nv"))
      pruned.crossJoin(exact).crossJoin(total)
        .select(col("exact_semi_views"),
          (col("_pruned") >= col("exact_semi_views")).as("bloom_admits_all"),
          (col("_pruned") - col("exact_semi_views") <= col("_nv") * lit(0.02))
            .as("bloom_fp_bounded"))
    }),

    "sk_hll_merge" -> ((s, d) => {
      // mergeable distinct-count sketches: one HLL per (event_type, day),
      // union-merged per event_type — the persist-and-merge shape that
      // answers incremental distinct queries without re-reading raw data.
      // CERTIFIED since r6: exact n_shards/n_exact hash-match DuckDB and
      // the merged estimate's 5% bound (lgK=12 → rsd ≈1.6%, so 3σ) is an
      // oracle-asserted boolean; the union-vs-single-shot agreement stays
      // in FunctionsSpec. At 100 TB a caller keeps the sketch column —
      // the exact distinct is the oracle hook at test scale.
      val ev = Graft.events(s, d).withColumn("day", expr("ts_us div 86400000000"))
      val merged = graft.functions.Sketches.hllMergeDistinct(
        ev, "event_type", col("day"), "user_id")
      val exact = ev.where(col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_exact"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_shards"), col("n_exact"),
          (abs(col("hll_distinct") - col("n_exact")) <=
            col("n_exact") * lit(0.05)).as("hll_ok"))
    }),

    "sk_hll_overlap" -> ((s, d) => {
      // audience overlap via sketch algebra: |A∩B| ≈ est(A) + est(B) −
      // est(A∪B), all from per-segment HLL sketches — the composition
      // that answers intersection questions WITHOUT a distinct-join, and
      // entirely from sketches that in production are precomputed per
      // segment. CERTIFIED since r6: exact per-segment and intersection
      // cardinalities hash-match DuckDB; the inclusion-exclusion estimate
      // is asserted within 10% of (n_view + n_purchase) — three sketch
      // errors compound, each ≲1.6% of its set at lgK=12, so the bound
      // is ≳2σ-per-term generous — as an oracle-stated boolean.
      val ev = Graft.events(s, d).where(col("user_id").isNotNull)
      val sk = ev.where(col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("_sk"))
      val union = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("_sk"), lit(false))).as("est_union"))
      val parts = sk.groupBy()
        .pivot("event_type", Seq("view", "purchase"))
        .agg(first(hll_sketch_estimate(col("_sk"))))
      val estBoth = parts.crossJoin(union)
        .select((col("view") + col("purchase") - col("est_union")).as("est_both"))
      val exact = ev.agg(
        count_distinct(when(col("event_type") === "view", col("user_id"))).as("n_view"),
        count_distinct(when(col("event_type") === "purchase", col("user_id"))).as("n_purchase"))
      val viewUsers = ev.where(col("event_type") === "view").select("user_id").distinct()
      val purchaseUsers = ev.where(col("event_type") === "purchase").select("user_id").distinct()
      val nBoth = viewUsers.join(purchaseUsers, "user_id")
        .agg(count(lit(1)).as("n_both"))
      exact.crossJoin(nBoth).crossJoin(estBoth)
        .select(col("n_view"), col("n_purchase"), col("n_both"),
          (abs(col("est_both") - col("n_both")) <=
            (col("n_view") + col("n_purchase")) * lit(0.10)).as("overlap_ok"))
    }),

    "pp_dedup_report" -> ((s, d) => {
      // the operational summary a dedup run ships with: corpus size,
      // distinct contents, docs dropped, duplicate rate (4dp) — one
      // groupBy + one row, fully oracle-checkable.
      val c = Dedup.exact(Graft.documents(s, d), "doc_id", "text")
      c.agg(
        sum("n_copies").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum("n_copies") - count(lit(1))).as("n_dropped"),
        round((sum("n_copies") - count(lit(1))).cast("double") /
          sum("n_copies").cast("double"), 4).as("dup_rate"))
    }),

    "sk_cms" -> ((s, d) =>
      // count-min sketch of event_type frequencies, fully distributed
      // (see graft.functions.Sketches.cmsEstimate — the same definition
      // the scale audit measures): distinct-key cardinality never reaches
      // the driver, so the shape survives a high-cardinality column at
      // 100 TB.
      // CERTIFIED since r6: exact per-key counts hash-match DuckDB; the
      // sketch's two guarantees — overestimate-only, and error ≤ eps·N
      // (eps = 0.001) — are oracle-asserted booleans. The sketch stays in
      // the plan; at 100 TB a caller drops the exact column.
      {
        val ev = Graft.eventsStream(s, d)
        val total = broadcast(ev.where(col("value").isNotNull)
          .agg(count(lit(1)).as("_n")))
        graft.functions.Sketches.cmsEstimate(ev, "value")
          .crossJoin(total)
          .select(col("key"), col("exact_cnt"),
            (col("cms_est") >= col("exact_cnt")).as("cms_no_undercount"),
            (col("cms_est") <= col("exact_cnt") + col("_n") * lit(0.001))
              .as("cms_within_eps"))
      }),

    "sk_heavy_merge" -> ((s, d) =>
      // store-and-merge heavy hitters: one summary per (lang, source)
      // — the persisted-shard pattern — merged per lang; a new source
      // re-sketches only itself. Same exact+booleans certification as
      // sk_heavy, per stratum.
      graft.functions.Sketches.heavyHittersMerge(
        Graft.documents(s, d)
          .select(col("lang"), col("source"),
            explode(TextFunctions.tokens(col("text"))).as("tok")),
        "lang", col("source"), col("tok"))),

    "sk_heavy" -> ((s, d) =>
      // heavy hitters over corpus tokens (stopword/boilerplate
      // discovery, hot-key detection): the mergeable frequent-items
      // sketch is the production probe, the exact counts are the
      // certification side — same exact+booleans device as sk_cms.
      // θ = 1/200 with maxTracked = 1024 satisfies the sizing rule
      // 3.5/maxTracked < θ, so both guarantee booleans MUST hold; a
      // sketch violation flips them engine-side and fails the hash.
      graft.functions.Sketches.heavyHitters(
        Graft.documents(s, d)
          .select(explode(TextFunctions.tokens(col("text"))).as("tok")),
        col("tok"))))

  // Batch/streaming twin oracles bound ONCE (review r12): each
  // streaming entry shares its batch SQL by reference, so a formula
  // tweak can never silently decouple the two certifications.
  // shared with CoreQueries' s_tfexample_media_jpeg (same decode, JPEG
  // payloads arriving through the tf.Example container instead)
  private[queries] val mmDecodeJpegSql: String =
    """SELECT d.doc_id AS asset_id,
                CAST(0 AS INT) AS comp,
                CAST(8 * (1 + d.doc_id % 3) AS INT) AS width,
                CAST(8 * (1 + d.n_chars % 2) AS INT) AS height,
                CAST(gx.i AS INT) AS block_x,
                CAST(gy.i AS INT) AS block_y,
                CAST((d.doc_id * 7 + gx.i * 13 + gy.i * 31) % 256 AS INT) AS px_min,
                CAST((d.doc_id * 7 + gx.i * 13 + gy.i * 31) % 256 AS INT) AS px_max
         FROM documents d,
              UNNEST(generate_series(0, 2)) AS gx(i),
              UNNEST(generate_series(0, 1)) AS gy(i)
         WHERE gx.i <= d.doc_id % 3 AND gy.i <= d.n_chars % 2"""

  private val mmDecodePngSql: String =
    """SELECT d.doc_id AS asset_id,
                CAST(ch.c AS INT) AS channel,
                CAST(1 + d.n_chars % 13 AS INT) AS width,
                CAST(1 + d.doc_id % 11 AS INT) AS height,
                CAST(SUM((d.doc_id * 7 + gx.x * 3 + gy.y * 5 + ch.c * 11) % 256) AS BIGINT) AS px_sum,
                CAST(SUM(((d.doc_id * 7 + gx.x * 3 + gy.y * 5 + ch.c * 11) % 256)
                         * (gx.x + gy.y * (1 + d.n_chars % 13))) AS BIGINT) AS px_wsum,
                CAST(MIN((d.doc_id * 7 + gx.x * 3 + gy.y * 5 + ch.c * 11) % 256) AS INT) AS px_min,
                CAST(MAX((d.doc_id * 7 + gx.x * 3 + gy.y * 5 + ch.c * 11) % 256) AS INT) AS px_max
         FROM documents d,
              UNNEST(generate_series(0, 2)) AS ch(c),
              UNNEST(generate_series(0, 12)) AS gx(x),
              UNNEST(generate_series(0, 10)) AS gy(y)
         WHERE ch.c < (CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 3 END)
           AND gx.x < 1 + d.n_chars % 13
           AND gy.y < 1 + d.doc_id % 11
         GROUP BY 1, 2, 3, 4"""

  private val mmAudioFftSql: String =
    """SELECT d.doc_id AS asset_id,
                CAST(f.i AS INT) AS frame_idx,
                CAST(64 AS INT) AS frame_len,
                CAST(1 + (d.doc_id + 3 * f.i) % 31 AS INT) AS dominant_bin,
                TRUE AS dominant_is_pure
         FROM documents d,
              UNNEST(generate_series(0, 3)) AS f(i)
         WHERE f.i <= d.doc_id % 4"""

  /** Oracle for `mm_audio_mel`: the tone's bin k = 1 + (id + 3f) % 31
    * carries ALL the frame's positive-bin power, so band m's
    * milli-fraction is round-half(1000 · w_m(k)) with w_m the
    * triangular weight — replayed here in pure integer arithmetic:
    * round-half(1000·p/q) = (2000p + q) // (2q). Branch bounds and
    * denominators are generated from the SAME melCenters64 constant the
    * Spark kernel uses, so the two sides cannot drift apart.
    */
  /** The mel triangular-weight milli-fraction as a SQL CASE over band
    * index `m.m` and tone bin `$k` — round-half(1000·p/q) in pure
    * integer arithmetic ((2000p + q) // 2q), generated from the SAME
    * melCenters64 constant the Spark kernel uses. Shared by the
    * mm_audio_mel and audio-fingerprint oracles.
    */
  private def melMilliCase(k: String): String = {
    val cs = Multimodal.melCenters64
    val branches = (1 to cs.length - 2).map { m =>
      val a = cs(m - 1); val c = cs(m); val b = cs(m + 1)
      s"""WHEN m.m = $m THEN CASE
              WHEN $k > $a AND $k <= $c THEN (2000 * ($k - $a) + ${c - a}) // ${2 * (c - a)}
              WHEN $k > $c AND $k < $b THEN (2000 * ($b - $k) + ${b - c}) // ${2 * (b - c)}
              ELSE 0 END"""
    }.mkString("\n            ")
    s"CASE $branches ELSE 0 END"
  }

  /** The fixture's per-frame tone bins: one row per (doc, frame 0..id%4)
    * with k = 1 + (id + 3f) % 31 — shared by every audio oracle.
    */
  private val toneFramesCte: String =
    """afr AS (SELECT d.doc_id, f.i AS frame_idx,
                      1 + (d.doc_id + 3 * f.i) % 31 AS k
               FROM documents d, UNNEST(generate_series(0, 3)) AS f(i)
               WHERE f.i <= d.doc_id % 4)"""

  private val mmAudioMelSql: String =
    s"""WITH $toneFramesCte
       SELECT afr.doc_id AS asset_id, CAST(afr.frame_idx AS INT) AS frame_idx,
              CAST(m.m AS INT) AS mel_idx,
              CAST(${melMilliCase("afr.k")} AS BIGINT) AS mel_milli
       FROM afr, UNNEST(generate_series(1, ${Multimodal.melCenters64.length - 2})) AS m(m)"""

  /** The audio-fingerprint replay CTE prefix (afr → amel → atop → afp):
    * per frame, the dominant bin is the tone bin k (purity TRUE — the
    * certified mm_audio_fft facts), the argmax mel band and its milli
    * come from the shared weight CASE (ties to the lowest band, the
    * kernel's strict-greater rule), and the 16-bit frame words pack
    * into (hi, lo) halves with ≤16-bit shifts so no engine touches the
    * sign bit.
    */
  private val afpCtes: String =
    s"""$toneFramesCte,
         amel AS (SELECT afr.doc_id, afr.frame_idx, m.m AS m,
                         CAST(${melMilliCase("afr.k")} AS BIGINT) AS milli
                  FROM afr, UNNEST(generate_series(1, ${Multimodal.melCenters64.length - 2})) AS m(m)),
         atop AS (SELECT doc_id, frame_idx, m, milli FROM
                    (SELECT *, row_number() OVER (PARTITION BY doc_id, frame_idx
                                                  ORDER BY milli DESC, m ASC) AS r
                     FROM amel)
                  WHERE r = 1),
         aword AS (SELECT afr.doc_id, afr.frame_idx,
                          (afr.k + 32 + (t.m << 6)
                           + ((CASE WHEN t.milli // 8 > 125 THEN 125 ELSE t.milli // 8 END) << 9)) AS word
                   FROM afr JOIN atop t
                     ON t.doc_id = afr.doc_id AND t.frame_idx = afr.frame_idx),
         afp AS (SELECT doc_id AS asset_id,
                        CAST(COALESCE(SUM(CASE WHEN frame_idx >= 2
                                 THEN word << (16 * (frame_idx - 2)) ELSE 0 END), 0) AS BIGINT) AS afp_hi,
                        CAST(COALESCE(SUM(CASE WHEN frame_idx < 2
                                 THEN word << (16 * frame_idx) ELSE 0 END), 0) AS BIGINT) AS afp_lo
                 FROM aword GROUP BY 1)"""

  private val mmVideoMjpegSql: String =
    """SELECT d.doc_id AS asset_id,
                CAST(f.i AS INT) AS frame_idx,
                CAST(1 + d.doc_id % 5 AS INT) AS n_frames,
                CAST(8 AS INT) AS width,
                CAST(8 AS INT) AS height,
                CAST((d.doc_id * 7 + f.i * 19) % 256 AS INT) AS px_min,
                CAST((d.doc_id * 7 + f.i * 19) % 256 AS INT) AS px_max
         FROM documents d,
              UNNEST(generate_series(0, 4)) AS f(i)
         WHERE f.i <= d.doc_id % 5 AND f.i % 2 = 0"""

  /** Static oracles plus the freeze-the-model ANN oracles: the latter
    * are registered by the ann_ivf/ann_pq/ann_ivfpq entries at query
    * BUILD time (their literals are the trained model), and Verify dumps
    * oracle_sql.json after running the queries — so evaluation order
    * guarantees the SQL ships exactly the model the parquet was computed
    * with. Before the entries run, the map simply lacks those keys
    * (rows-only fallback).
    */
  def oracles: Map[String, String] = staticOracles ++ AnnOracleSql.registered

  /** Exact brute-force top-k replay — shared by the `ann_brute` oracle
    * and the composed `ann_recall_report` oracle's truth set. The
    * FLOAT[] hop mirrors Graft.embeddings' defensive double→float
    * narrowing (identity on today's float corpus).
    */
  private def bruteTopKSql(vec: String => String, k: Int = 10): String =
    s"""SELECT query_id, neighbor_id, rank, cos FROM (
         SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.vec_id
                                   ORDER BY list_cosine_similarity(${vec("q")}, ${vec("e")}) DESC,
                                            e.vec_id ASC) AS rank,
                round(list_cosine_similarity(${vec("q")}, ${vec("e")}), 6) AS cos
         FROM embeddings q, embeddings e
         WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id)
       WHERE rank <= $k"""

  private val annBruteSql: String =
    bruteTopKSql(t => s"CAST(CAST($t.embedding AS FLOAT[]) AS DOUBLE[])")

  /** Oracle for q_mmr: the 5 greedy rounds unrolled (the PageRank CTE
    * device) over the brute top-20 candidates and their pair cosines —
    * round k's score is round(0.5*rel - 0.5*max-sim-to-selected, 6),
    * ties to the lower id, round 1 seeded by round(0.5*rel, 6). */
  private val mmrSql: String = {
    val prefix =
      """WITH e AS (SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v
                    FROM embeddings),
         cand AS (SELECT vec_id, rel FROM (
                    SELECT ne.vec_id,
                           row_number() OVER (ORDER BY list_cosine_similarity(q.v, ne.v) DESC,
                                                       ne.vec_id ASC) AS rnk,
                           round(list_cosine_similarity(q.v, ne.v), 6) AS rel
                    FROM e q, e ne WHERE q.vec_id = 0 AND ne.vec_id <> 0)
                  WHERE rnk <= 20),
         sims AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                         round(list_cosine_similarity(ea.v, eb.v), 6) AS sim
                  FROM cand a, cand b, e ea, e eb
                  WHERE ea.vec_id = a.vec_id AND eb.vec_id = b.vec_id
                    AND a.vec_id <> b.vec_id),
         s1 AS (SELECT vec_id, rel, round(0.5 * rel, 6) AS mmr FROM cand
                ORDER BY round(0.5 * rel, 6) DESC, vec_id LIMIT 1)"""
    val rounds = (2 to 5).map { k =>
      val selUnion = (1 until k).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
      s"""s$k AS (SELECT c.vec_id, c.rel,
                    round(0.5 * c.rel - 0.5 * (SELECT max(sim) FROM sims
                      WHERE va = c.vec_id AND vb IN ($selUnion)), 6) AS mmr
             FROM cand c WHERE c.vec_id NOT IN ($selUnion)
             ORDER BY mmr DESC, vec_id LIMIT 1)"""
    }
    val union = (1 to 5).map(k =>
      s"SELECT CAST($k AS INT) AS rank, vec_id, rel, mmr FROM s$k").mkString("\n       UNION ALL ")
    (prefix +: rounds).mkString(",\n       ") + "\n       " + union
  }

  // the MRL prefix slice happens on the FLOAT array (the storage dtype)
  // BEFORE the double hop, mirroring slice() on the Spark side
  private val annMatryoshkaSql: String =
    bruteTopKSql(t => s"CAST(CAST($t.embedding AS FLOAT[])[1:16] AS DOUBLE[])")

  // the coarse-to-fine MRL composition: prefix-width coarse top-50
  // (the matryoshka device above, k widened), exact full-width re-rank
  // of only those candidates — mirrors Ann.mrlTopK stage for stage
  private val annMrlRerankSql: String =
    s"""WITH coarse AS (
         ${bruteTopKSql(t => s"CAST(CAST($t.embedding AS FLOAT[])[1:16] AS DOUBLE[])", k = 50)})
       SELECT query_id, neighbor_id, rank, cos FROM (
         SELECT c.query_id, c.neighbor_id,
                row_number() OVER (PARTITION BY c.query_id
                                   ORDER BY list_cosine_similarity(CAST(CAST(q.embedding AS FLOAT[]) AS DOUBLE[]), CAST(CAST(e.embedding AS FLOAT[]) AS DOUBLE[])) DESC,
                                            c.neighbor_id ASC) AS rank,
                round(list_cosine_similarity(CAST(CAST(q.embedding AS FLOAT[]) AS DOUBLE[]), CAST(CAST(e.embedding AS FLOAT[]) AS DOUBLE[])), 6) AS cos
         FROM coarse c
         JOIN embeddings e ON e.vec_id = c.neighbor_id
         JOIN embeddings q ON q.vec_id = c.query_id)
       WHERE rank <= 10"""

  // the int8-quantization replay CTEs (e -> q -> c: float hop, exact
  // max scale, half-away-from-zero codes), shared by mm_quantize and
  // the quantized-store search ann_quantized so the two oracles can't
  // drift apart (the unigramLmCtes precedent)
  private val int8QuantizeCtes: String =
    """e AS (SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id, v,
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, x -> abs(x))),
                                (a, b) -> CASE WHEN b > a THEN b ELSE a END) / 127.0 AS s
             FROM e),
       c AS (SELECT vec_id, v, s,
                    CASE WHEN s = 0 THEN list_transform(v, x -> 0)
                         ELSE list_transform(v, x -> CAST(round(x / s) AS INTEGER)) END AS codes
             FROM q)"""

  // the BM25 replay CTEs (btoks -> btf -> bdl -> bstats -> bdfq ->
  // bargs -> bidf -> bcontrib -> bm25), shared by txt_bm25 and the
  // hybrid-retrieval fusion built on it so the two oracles cannot
  // drift apart (the unigramLmCtes precedent). Every double is the
  // same 64 bits as the Spark side: detLnSql idf difference, one
  // correctly-rounded division of exact integers, left-assoc product
  // before the micro floor.
  private val bm25Ctes: String =
    s"""btoks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'), w -> len(w) > 0)) AS term
                  FROM documents WHERE doc_id IS NOT NULL),
        btf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM btoks GROUP BY doc_id, term),
        bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM btf GROUP BY doc_id),
        bstats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM bdl),
        bdfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM btf
                 WHERE term IN ('dup', 'spark', 'merge', 'vector') GROUP BY term),
        bargs AS (SELECT d2.term, CAST(2 * (s.n - d2.df) + 1 AS BIGINT) AS a1,
                         CAST(2 * d2.df + 1 AS BIGINT) AS a2
                  FROM bdfq d2 CROSS JOIN bstats s),
        bidf AS (SELECT term, (${TextFunctions.detLnSql("a1")} - ${TextFunctions.detLnSql("a2")}) AS idf FROM bargs),
        bcontrib AS (SELECT btf.doc_id,
                            CAST(floor(bidf.idf *
                                 (CAST(22 * s.tot * btf.tf AS DOUBLE) /
                                  CAST(10 * s.tot * btf.tf + 3 * s.tot + 9 * bdl.dl * s.n AS DOUBLE)) *
                                 1000000.0e0) AS BIGINT) AS c_micro
                     FROM btf JOIN bidf USING (term) JOIN bdl USING (doc_id) CROSS JOIN bstats s),
        bm25 AS (SELECT doc_id, CAST(count(*) AS INT) AS n_hit, CAST(sum(c_micro) AS BIGINT) AS bm25_micro
                 FROM bcontrib GROUP BY doc_id)"""

  // the unigram-LM replay CTEs (toks -> tf -> uni -> n -> w -> lm),
  // shared by txt_unigram_lp and the CCNet tercile buckets built on it
  private val unigramLmCtes: String =
    s"""toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'), w -> len(w) > 0)) AS term
                 FROM documents WHERE doc_id IS NOT NULL),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        uni AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
        n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM uni),
        w AS (SELECT term, CAST(floor((${TextFunctions.detLnSql("n.n_total")} - ${TextFunctions.detLnSql("uni.cnt")}) * 1000000.0e0) AS BIGINT) AS w_micro
              FROM uni CROSS JOIN n),
        lm AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tok,
                      CAST(CAST(sum(tf.tf * w.w_micro) AS BIGINT) // CAST(sum(tf.tf) AS BIGINT) AS BIGINT) AS avg_nll_micro
               FROM tf JOIN w USING (term)
               GROUP BY tf.doc_id)"""

  // the pp_ingest replay, shared verbatim by the batch entry and the
  // streaming composition (which converges to the identical result)
  /** The ingest-chain replay, optionally extended with the SemDeDup
    * gate (r12): `semanticCtes` splices
    * [[AnnOracleSql.ingestSemanticCtes]]'s fragment (defining `sem`)
    * into the WITH chain and adds the matching NOT IN filter. With
    * None, the SQL is the r11 `pp_ingest` replay unchanged.
    */
  private def ppIngestSqlBuilder(semanticCtes: Option[String]): String = {
    val semCte = semanticCtes.map(c => s""",
              $c""").getOrElse("")
    val semFilter = semanticCtes.map(_ => """
                       AND doc_id NOT IN (SELECT doc_id FROM sem)""").getOrElse("")
    s"""WITH batch AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
              corp AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
              ch AS (SELECT DISTINCT md5(text) AS h FROM corp),
              ke AS (SELECT min(doc_id) AS doc_id FROM batch
                     WHERE md5(text) NOT IN (SELECT h FROM ch)
                     GROUP BY md5(text)),
              toks AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\\W+'), w -> len(w) > 0)) AS tk,
                              lang, n_chars
                       FROM documents),
              nd AS (SELECT DISTINCT b.doc_id AS doc_id
                     FROM toks b JOIN toks c
                       ON b.lang = c.lang AND b.n_chars = c.n_chars
                      AND b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
                     WHERE round(CAST(len(list_intersect(b.tk, c.tk)) AS DOUBLE) /
                                 CAST(len(list_distinct(list_concat(b.tk, c.tk))) AS DOUBLE), 4) >= 0.5)$semCte,
              vv AS (SELECT doc_id,
                            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bkt
                     FROM batch
                     WHERE doc_id IN (SELECT doc_id FROM ke)
                       AND doc_id NOT IN (SELECT doc_id FROM nd)$semFilter)
         SELECT doc_id, CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
         FROM vv"""
  }

  private val ppIngestSql: String = ppIngestSqlBuilder(None)

  /** The synthetic-page CTE shared by the txt_html_* oracles — ONE
    * definition of the fixture so the two certifications can never
    * drift from each other (the dhashCtes convention); it must stay
    * byte-identical to [[syntheticHtml]]. */
  private val htmlCte: String =
    """h AS (SELECT doc_id,
             '<html><head><title>Doc ' || doc_id ||
             '</title><script type="text/javascript">var x = ' || (doc_id % 9) ||
             ';</script><style>p {margin:0}</style></head><body><h1>Doc ' || doc_id ||
             '</h1><p>' || text ||
             '</p><a href="https://example' || (doc_id % 7) || '.com/p' || (doc_id % 50) ||
             '">read ' || (doc_id % 13) ||
             '</a> <a href="https://example' || (doc_id % 3) || '.org/q' || (doc_id % 20) ||
             '">more ' || (doc_id % 11) ||
             '</a> <a class="nav" href=''https://example' || (doc_id % 5) || '.net/r' || (doc_id % 30) ||
             ''' rel=next>next ' || (doc_id % 9) ||
             '</a> <a href = https://ex' || (doc_id % 2) || '.io/s' || (doc_id % 10) ||
             ' target=_blank>go ' || (doc_id % 6) ||
             '</a><div>&amp; entities &lt;kept&gt; &quot;q&quot;&nbsp;end</div></body></html>' AS html
           FROM documents)"""

  /** The anchor-edge CTE tail shared by the txt_html_links /
    * pp_anchor_text / pp_robots oracles — the DuckDB replay of
    * [[anchorPat]] + [[hrefFromAttrs]], byte-for-byte the same regexes
    * (RE2 both sides, no backreferences). Emits
    * (doc_id, link_idx, href, anchor); hrefless tags keep their
    * link_idx slot but are filtered (href IS NULL). */
  private val anchorEdgeCte: String =
    """l AS (SELECT doc_id,
             regexp_extract_all(html, '(?i)<a\s+([^>]*)>([^<]*)</a>', 1) AS attrs,
             regexp_extract_all(html, '(?i)<a\s+([^>]*)>([^<]*)</a>', 2) AS anchors
           FROM h),
       e AS (SELECT doc_id, CAST(g.i AS BIGINT) AS link_idx,
                    COALESCE(
                      NULLIF(regexp_extract(attrs[g.i], '(?i)href\s*=\s*"([^"]*)"', 1), ''),
                      NULLIF(regexp_extract(attrs[g.i], '(?i)href\s*=\s*''([^'']*)''', 1), ''),
                      NULLIF(regexp_extract(attrs[g.i], '(?i)href\s*=\s*([^\s"''>]+)', 1), '')) AS href,
                    anchors[g.i] AS anchor
             FROM l, UNNEST(generate_series(1, len(attrs))) AS g(i))"""

  /** The WET-extraction replay shared by the batch entry and its
    * streaming twin (stateless append — converged == batch). */
  private val htmlExtractSql: String =
    s"""WITH $htmlCte,
       c1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
       c2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM c1),
       c3 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM c2),
       c4 AS (SELECT doc_id, regexp_replace(t, '&lt;', '<', 'g') AS t FROM c3),
       c5 AS (SELECT doc_id, regexp_replace(t, '&gt;', '>', 'g') AS t FROM c4),
       c6 AS (SELECT doc_id, regexp_replace(t, '&quot;', '"', 'g') AS t FROM c5),
       c7 AS (SELECT doc_id, regexp_replace(t, '&#39;', '''', 'g') AS t FROM c6),
       c8 AS (SELECT doc_id, regexp_replace(t, '&nbsp;', ' ', 'g') AS t FROM c7),
       c9 AS (SELECT doc_id, regexp_replace(t, '&amp;', '&', 'g') AS t FROM c8)
       SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS text_clean,
              CAST(length(trim(regexp_replace(t, '\\s+', ' ', 'g'))) AS BIGINT) AS clean_chars
       FROM c9"""

  /** Cohort-retention replay shared by the batch entry and its streaming
    * twin (r18 — the converged (user, week) cell state equals the batch
    * deduped frame). */
  private val retentionSql: String =
    """WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
            c AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY user_id)
       SELECT c.cohort_wk, a.wk, a.wk - c.cohort_wk AS weeks_since,
              count(DISTINCT a.user_id) AS n_active
       FROM a JOIN c ON a.user_id = c.user_id
       GROUP BY 1, 2, 3"""

  /** DAU/WAU replay shared by the batch entry and its streaming twin
    * (r18 — the converged (user, day) cell state equals the batch
    * deduped frame). */
  private val dauWauSql: String =
    """WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
                  FROM events WHERE user_id IS NOT NULL),
            dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM a GROUP BY day),
            w AS (SELECT a.user_id, a.day + g.i AS day
                  FROM a, UNNEST(generate_series(0, 6)) AS g(i)),
            wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM w GROUP BY day)
       SELECT d.day, d.dau, w2.wau FROM dau d JOIN wau w2 ON d.day = w2.day"""

  /** 3-sigma replay shared by the batch entry and its streaming twin
    * (r18 — the converged per-type (n, Σx, Σx²) moment state equals the
    * batch moments; DuckDB's HUGEINT quadratics mirror Spark's
    * DECIMAL(38) exactly). */
  private val outliersSql: String =
    """WITH e AS (SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
            st AS (SELECT event_type, count(*) AS n, sum(cents) AS s1,
                          sum(cents * cents) AS q
                   FROM e GROUP BY 1)
       SELECT e.event_id, e.event_type, e.cents
       FROM e JOIN st USING (event_type)
       WHERE (st.n * e.cents - st.s1) * (st.n * e.cents - st.s1)
             > 9 * (st.n * st.q - st.s1 * st.s1)"""

  /** Funnel replay shared by the batch entry and its stateful-processor
    * streaming twin (r18 — ascending event-time micro-batches make the
    * per-user (t1, t2, t3) chain state write-once, so the converged
    * snapshot equals the batch first-timestamp chain). */
  private val funnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
                  FROM events WHERE user_id IS NOT NULL),
            t1 AS (SELECT user_id, min(ts_us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
            t2 AS (SELECT e.user_id, min(e.ts_us) AS t2 FROM e JOIN t1 ON e.user_id = t1.user_id
                   WHERE e.event_type = 'click' AND e.ts_us > t1.t1
                     AND e.ts_us <= t1.t1 + 86400000000 GROUP BY 1),
            t3 AS (SELECT e.user_id, min(e.ts_us) AS t3 FROM e JOIN t2 ON e.user_id = t2.user_id
                   WHERE e.event_type = 'purchase' AND e.ts_us > t2.t2
                     AND e.ts_us <= t2.t2 + 86400000000 GROUP BY 1)
       SELECT 1 AS step, 'view' AS step_name, CAST((SELECT count(*) FROM t1) AS BIGINT) AS n_users
       UNION ALL
       SELECT 2, 'click', CAST((SELECT count(*) FROM t2) AS BIGINT)
       UNION ALL
       SELECT 3, 'purchase', CAST((SELECT count(*) FROM t3) AS BIGINT)"""

  private val staticOracles: Map[String, String] = Map(
    // txt_html_*: WET-style extraction replayed as the identical regex
    // chain; anchors via regexp_extract_all + 1-based ordinality
    "txt_html_extract_streaming" -> htmlExtractSql,
    "txt_html_extract" -> htmlExtractSql,
    // the stateless streaming twin converges to the batch mask — the
    // oracle below serves both
    "pp_mlm_mask_streaming" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS l FROM documents)
         SELECT doc_id,
                array_to_string(list_transform(generate_series(1, len(l)), i ->
                  CASE WHEN len(l[i]) > 0
                        AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 8))::BIGINT % 100 < 15
                       THEN '[MASK]' ELSE l[i] END), ' ') AS masked_text,
                CAST(len(list_filter(generate_series(1, len(l)), i ->
                  len(l[i]) > 0
                  AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 8))::BIGINT % 100 < 15)) AS BIGINT) AS n_masked
         FROM t""",
    // the portable md5 position hash replayed exactly (Spark transform
    // indexes 0-based; generate_series is 1-based, hence i-1)
    "pp_mlm_mask" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS l FROM documents)
         SELECT doc_id,
                array_to_string(list_transform(generate_series(1, len(l)), i ->
                  CASE WHEN len(l[i]) > 0
                        AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 8))::BIGINT % 100 < 15
                       THEN '[MASK]' ELSE l[i] END), ' ') AS masked_text,
                CAST(len(list_filter(generate_series(1, len(l)), i ->
                  len(l[i]) > 0
                  AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 8))::BIGINT % 100 < 15)) AS BIGINT) AS n_masked
         FROM t""",
    // frozen top-20 vocab replay (count desc, word asc — the exact
    // training order) + per-doc OOV in integer basis points
    "txt_oov" ->
      """WITH toks AS (SELECT doc_id,
                              UNNEST(list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0)) AS tok
                       FROM documents),
              v AS (SELECT tok FROM (
                      SELECT tok, count(*) AS c FROM toks GROUP BY 1
                      ORDER BY c DESC, tok ASC LIMIT 20)),
              p AS (SELECT t.doc_id, count(*) AS n_tok,
                           sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
                    FROM toks t LEFT JOIN v ON t.tok = v.tok GROUP BY 1)
         SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, CAST(n_oov AS BIGINT) AS n_oov,
                CAST((n_oov * 10000) // n_tok AS BIGINT) AS oov_bp
         FROM p""",
    // template + per-turn span arithmetic replayed exactly: quarters by
    // integer div, sentinel lengths 8/13/7, spans 1-based [start, end)
    "pp_sft_multiturn" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS L, length(text) // 4 AS q FROM documents)
         SELECT doc_id,
                '<|user|>' || substr(text, 1, q) ||
                '<|assistant|>' || substr(text, q + 1, q) ||
                '<|end|>' ||
                '<|user|>' || substr(text, 2 * q + 1, q) ||
                '<|assistant|>' || substr(text, 3 * q + 1, L) ||
                '<|end|>' AS sft_text,
                CAST(8 + q + 13 + 1 AS BIGINT) AS a1_start,
                CAST(8 + q + 13 + 1 + q AS BIGINT) AS a1_end,
                CAST(50 + 3 * q AS BIGINT) AS a2_start,
                CAST(50 + L AS BIGINT) AS a2_end
         FROM t""",
    // RFC 9309 replay: longest matching prefix, Allow wins equal-length
    // ties (ORDER BY length DESC, allow DESC mirrors Spark's
    // max(struct(len, allow, prefix)) exactly), no match => allowed
    "pp_robots" -> {
      val ruleRows = ((0 until 7).flatMap(k => Seq(
          s"('example$k.com', '/p$k', FALSE)",
          s"('example$k.com', '/p${k}3', TRUE)")) ++ Seq(
          "('example1.org', '/', FALSE)",
          "('example2.org', '/q1', FALSE)",
          "('example2.org', '/q1', TRUE)")).mkString(", ")
      s"""WITH $htmlCte,
         $anchorEdgeCte,
         lk AS (SELECT DISTINCT href FROM e WHERE href IS NOT NULL),
         u AS (SELECT href, regexp_extract(href, '^https?://([^/]+)', 1) AS host,
                      CASE WHEN length(regexp_extract(href, '^https?://[^/]+(/.*)$$', 1)) > 0
                           THEN regexp_extract(href, '^https?://[^/]+(/.*)$$', 1)
                           ELSE '/' END AS path
               FROM lk),
         rules(host, prefix, allow) AS (VALUES $ruleRows),
         m AS (SELECT u.href, r.prefix, r.allow,
                      row_number() OVER (PARTITION BY u.href
                        ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC) AS rn
               FROM u JOIN rules r ON u.host = r.host AND starts_with(u.path, r.prefix))
         SELECT u.href, COALESCE(m.allow, TRUE) AS allowed, m.prefix AS matched_prefix
         FROM u LEFT JOIN (SELECT * FROM m WHERE rn = 1) m ON u.href = m.href"""
    },
    // WARC roundtrip: identity over the synthetic page fixture
    "s_warc" -> s"WITH $htmlCte SELECT doc_id, html FROM h",
    // per-record gzip members decompress to the identical stream
    "s_warc_gz" -> s"WITH $htmlCte SELECT doc_id, html FROM h",
    // the stateless streaming twin converges to the batch read
    "s_warc_streaming" -> s"WITH $htmlCte SELECT doc_id, html FROM h",
    // WARC -> WET composition converges to the extraction chain's answer
    "s_warc_wet" -> htmlExtractSql,
    // torn shard-3 tail drops exactly that shard's last (max-doc_id)
    // record; the garbage version line appended to shard 2 drops nothing
    "s_warc_corrupt_tail" ->
      s"""WITH $htmlCte
         SELECT doc_id, html FROM h
         WHERE NOT (doc_id % 4 = 3 AND doc_id =
           (SELECT max(doc_id) FROM documents WHERE doc_id % 4 = 3))""",
    "txt_html_links" ->
      s"""WITH $htmlCte,
         $anchorEdgeCte
         SELECT doc_id, link_idx, href, anchor FROM e WHERE href IS NOT NULL""",
    "pp_blocklist" ->
      """WITH hosts AS (SELECT doc_id,
                               'sub' || (doc_id % 5) || '.example' || (doc_id % 7) || '.com' AS host
                        FROM documents),
         b(entry) AS (VALUES ('example0.com'), ('example3.com'), ('sub2.example5.com')),
         blk AS (SELECT DISTINCT doc_id FROM hosts JOIN b
                 ON hosts.host = b.entry OR hosts.host LIKE '%.' || b.entry)
         SELECT doc_id, host FROM hosts
         WHERE doc_id NOT IN (SELECT doc_id FROM blk)""",
    // sk_quantiles: discrete (ANSI percentile_disc) exact quantiles are
    // actual data elements — no interpolation arithmetic — so they
    // hash-match across engines; okXX is the sketch's rank-error-bound
    // claim, TRUE by construction on the oracle side (a sketch drift
    // beyond ±0.01 rank flips the engine boolean and fails the hash)
    // sk_cms / sk_hll_merge / sk_hll_overlap / sk_bloom_prune follow the
    // same certification device as sk_quantiles: exact columns
    // hash-match, each sketch's guarantee is a boolean the oracle states
    // as TRUE (a violation flips the engine-side value and fails the
    // hash), and the sketch itself stays in the executed plan.
    // mm_patchify: the synthetic PNG's pixel formula (id*7 + x*3 + y*5,
    // channel 0) point-sampled at the 8x8 dHash lattice, grouped into
    // 4x4 patches
    "mm_patchify" ->
      """WITH g AS (SELECT d.doc_id AS asset_id, gx.x AS x, gy.y AS y,
                (d.doc_id*7 + ((gx.x * (1 + d.n_chars % 13)) // 8) * 3
                   + ((gy.y * (1 + d.doc_id % 11)) // 8) * 5) % 256 AS v
              FROM documents d,
                   UNNEST(generate_series(0, 7)) AS gx(x),
                   UNNEST(generate_series(0, 7)) AS gy(y))
         SELECT asset_id, CAST(y // 4 AS INT) AS patch_row,
                CAST(x // 4 AS INT) AS patch_col,
                CAST(SUM(v) AS BIGINT) AS px_sum,
                CAST(MIN(v) AS INT) AS px_min, CAST(MAX(v) AS INT) AS px_max
         FROM g GROUP BY 1, 2, 3""",
    // g_*: integer-exact link-graph authority family — unrolled-CTE
    // PageRank replay + degree profile (GraphOracleSql).
    "g_lpa" -> GraphOracleSql.labelPropagation(),
    // HUGEINT quadratics mirror Spark's DECIMAL(38) exactly
    "q_outliers" -> outliersSql,
    // the streaming moments converge to the batch moments — SAME oracle
    // (r18: the per-type (n, Σx, Σx²) triple is the streaming state's
    // sufficient statistic; flagging is a projection of the converged frame)
    "q_outliers_streaming" -> outliersSql,
    "q_retention" -> retentionSql,
    // the streaming triangle converges to the batch one — SAME oracle
    // (r18: the (user, week) cells are the streaming state's sufficient
    // statistic; cohort + triangle are projections of the converged frame)
    "q_retention_streaming" -> retentionSql,
    "q_dau_wau" -> dauWauSql,
    // the streaming card converges to the batch table — SAME oracle
    // (r18: the (user, day) cells are the streaming state's sufficient
    // statistic; DAU/WAU are projections of the converged frame)
    "q_dau_wau_streaming" -> dauWauSql,
    "q_funnel_steps" -> funnelSql,
    // the stateful-processor chain converges to the batch chain under
    // ascending event-time micro-batches — SAME oracle
    "q_funnel_steps_streaming" -> funnelSql,
    // rank = md5-prefix bucket replay (the splitAssign device); token
    // count is the shared whitespace-token formula
    "pp_rank_shards" ->
      """WITH t AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS rank,
                           CAST(len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS BIGINT) AS toks
                    FROM documents),
              per AS (SELECT rank, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens
                      FROM t GROUP BY rank)
         SELECT rank, n_docs, n_tokens,
                CAST((n_tokens * 10000) // (SELECT sum(n_tokens) FROM per) AS BIGINT) AS share_bp
         FROM per""",
    // the hex parse rides two 32-bit ::BIGINT halves (DuckDB's hex-cast
    // tops out at BIGINT) recombined in HUGEINT — equal to Spark's
    // conv(hex16, 16, 10) by construction
    "pp_corpus_fingerprint" ->
      """WITH t AS (SELECT ('0x' || substr(md5(text), 1, 8))::BIGINT::HUGEINT * 4294967296
                         + ('0x' || substr(md5(text), 9, 8))::BIGINT::HUGEINT AS h
                    FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
                CAST(sum(h) % 9223372036854775808 AS BIGINT) AS content_sum
         FROM t""",
    "g_pagerank" -> GraphOracleSql.pageRank(),
    "g_pagerank_seeded" -> GraphOracleSql.personalizedPageRank(),
    "g_degree" -> GraphOracleSql.degrees,
    "g_authority" -> GraphOracleSql.authority(),
    "sk_cms" ->
      """SELECT event_type AS key, count(*) AS exact_cnt,
                TRUE AS cms_no_undercount, TRUE AS cms_within_eps
         FROM events WHERE event_type IS NOT NULL GROUP BY 1""",
    "sk_heavy" ->
      """WITH t AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0)) AS item
                    FROM documents),
              c AS (SELECT item, count(*) AS exact_cnt FROM t GROUP BY item),
              nn AS (SELECT CAST(sum(exact_cnt) AS BIGINT) AS tot FROM c)
         SELECT item, exact_cnt, TRUE AS surfaced, TRUE AS est_in_bound
         FROM c, nn WHERE exact_cnt * 200 >= tot""",
    "sk_heavy_merge" ->
      """WITH t AS (SELECT lang, source,
                           unnest(list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0)) AS item
                    FROM documents),
              c AS (SELECT lang AS stratum, item, count(*) AS exact_cnt FROM t GROUP BY 1, 2),
              nn AS (SELECT stratum, CAST(sum(exact_cnt) AS BIGINT) AS tot FROM c GROUP BY stratum),
              sh AS (SELECT lang AS stratum, CAST(count(DISTINCT source) AS BIGINT) AS n_shards
                     FROM t GROUP BY 1)
         SELECT c.stratum, c.item, c.exact_cnt, sh.n_shards,
                TRUE AS surfaced, TRUE AS est_in_bound
         FROM c JOIN nn USING (stratum) JOIN sh USING (stratum)
         WHERE c.exact_cnt * 200 >= nn.tot""",
    "sk_hll_merge" ->
      """SELECT event_type, count(DISTINCT epoch_us(ts) // 86400000000) AS n_shards,
                count(DISTINCT user_id) AS n_exact, TRUE AS hll_ok
         FROM events WHERE user_id IS NOT NULL GROUP BY 1""",
    "sk_hll_overlap" ->
      """SELECT (SELECT count(DISTINCT user_id) FROM events
                 WHERE event_type = 'view' AND user_id IS NOT NULL) AS n_view,
                (SELECT count(DISTINCT user_id) FROM events
                 WHERE event_type = 'purchase' AND user_id IS NOT NULL) AS n_purchase,
                (SELECT count(*) FROM
                   (SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'view' AND user_id IS NOT NULL) v
                   JOIN (SELECT DISTINCT user_id FROM events
                         WHERE event_type = 'purchase' AND user_id IS NOT NULL) p
                   USING (user_id)) AS n_both,
                TRUE AS overlap_ok""",
    "sk_bloom_prune" ->
      """SELECT count(*) AS exact_semi_views,
                TRUE AS bloom_admits_all, TRUE AS bloom_fp_bounded
         FROM (SELECT CAST(user_id AS VARCHAR) AS key FROM events WHERE event_type = 'view') v
         WHERE v.key IN (SELECT CAST(user_id AS VARCHAR) FROM events
                         WHERE event_type = 'purchase' AND user_id IS NOT NULL)""",
    "sk_quantiles" ->
      """SELECT event_type AS key,
                percentile_disc(0.50) WITHIN GROUP (ORDER BY value) AS p50,
                percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS p95,
                percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS p99,
                TRUE AS ok50, TRUE AS ok95, TRUE AS ok99
         FROM events GROUP BY 1""",
    "dd_exact" ->
      "SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY 1",
    // content-defined chunking replay: trailing 8-char window hash
    // (31·h + codepoint) mod 2^48 — in signed-64 range, so plain BIGINT
    // arithmetic matches Spark's fold exactly; boundary where hash % 32
    // = 0; chunk_idx assigned over ALL spans (0-based) before the
    // empty-chunk filter, exactly like the posexplode-then-filter shape
    "dd_chunk" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
            b AS (SELECT doc_id, text, n,
                    CASE WHEN n >= 8 THEN list_filter(range(8, n + 1),
                      i -> list_reduce(
                             list_prepend(0::BIGINT,
                               list_transform(range(i - 7, i + 1), j -> ord(substr(text, j::INT, 1))::BIGINT)),
                             (h, x) -> (31 * h + x) % 281474976710656) % 32 = 0)
                    ELSE [] END AS bnd
                  FROM d),
            c0 AS (SELECT doc_id, text, n, bnd, unnest(range(1, len(bnd) + 2)) AS x FROM b),
            c AS (SELECT doc_id, (x - 1)::BIGINT AS chunk_idx,
                    substr(text,
                      ((CASE WHEN x = 1 THEN 0 ELSE bnd[(x - 1)::INT] END) + 1)::INT,
                      ((CASE WHEN x > len(bnd) THEN n ELSE bnd[x::INT] END)
                        - (CASE WHEN x = 1 THEN 0 ELSE bnd[(x - 1)::INT] END))::INT) AS chunk
                  FROM c0)
         SELECT doc_id, chunk_idx, chunk,
                (row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) = 1) AS keep
         FROM c WHERE len(chunk) > 0""",
    // duplicated-span replay: token XXH64 + 8-link running-hashLong
    // chain per gram position (SpanOracleSql) — the exact-substring
    // signal is hash-checkable end-to-end
    "dd_span" -> SpanOracleSql.spanStats(k = 8),
    "dd_span_remove" -> SpanOracleSql.spanRemove(k = 8, minSpanTokens = 16),
    "pp_decontam_spans" -> SpanOracleSql.decontamSpans(k = 8, minSpanTokens = 16),
    "pp_domain_cap" ->
      """SELECT source, doc_id, rank_in_source FROM (
           SELECT source, doc_id,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id)
                    AS INTEGER) AS rank_in_source
           FROM documents)
         WHERE rank_in_source <= 15""",
    // positional 2-token pseudo-lines → line document frequency →
    // strip df ≥ max(ceil(0.05·N), 2) → rejoin ORDER BY line_idx;
    // exact strings and counts, engine-portable end-to-end
    "dd_boilerplate" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0) AS w
                    FROM documents WHERE doc_id IS NOT NULL),
              b AS (SELECT doc_id, w FROM t WHERE len(w) > 0),
              n AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id IS NOT NULL),
              seg AS (SELECT doc_id, CAST(i AS INT) AS line_idx,
                             list_aggregate(w[(i*2+1):((i+1)*2)], 'string_agg', ' ') AS line
                      FROM b, UNNEST(generate_series(0, CAST(ceil(len(w) / 2.0) AS BIGINT) - 1)) AS u(i)),
              df AS (SELECT line, count(DISTINCT doc_id) AS df FROM seg GROUP BY line),
              bo AS (SELECT df.line FROM df, n
                     WHERE df.df >= greatest(CAST(ceil(n.n_docs * 0.05) AS BIGINT), 2)),
              fl AS (SELECT s.doc_id, s.line_idx, s.line, (bo.line IS NOT NULL) AS rm
                     FROM seg s LEFT JOIN bo ON s.line = bo.line)
         SELECT doc_id, count(*) AS n_lines,
                CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                coalesce(string_agg(CASE WHEN NOT rm THEN line END, ' ' ORDER BY line_idx), '') AS text_clean
         FROM fl GROUP BY doc_id""",
    // full XXH64 + permutation + banding replay (MinHashOracleSql):
    // the LSH pipeline is hash-checkable end-to-end, not rows-only
    "dd_minhash" -> MinHashOracleSql.minhashPairs(),
    "dd_minhash_incremental" -> MinHashOracleSql.minhashIncremental(),
    // the containment-MinHash production arm: signature/banding/cap
    // replay + Broder estimate + exact gram-set verify, end-to-end
    "dd_containment_sketch" -> MinHashOracleSql.containmentSketch(),
    "dd_lsh_resolve" -> MinHashOracleSql.lshResolve(),
    // all-pairs Hamming over SQL-replayed signatures — exact because the
    // chunk blocking is pigeonhole-complete and the cap is inert at
    // oracle scale (SimHashOracleSql scaladoc)
    "dd_simhash" -> SimHashOracleSql.simhashPairs(),
    "dd_jaccard_verify" ->
      """WITH toks AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0)) AS tk,
                             lang, n_chars
                      FROM documents)
         SELECT l.doc_id AS a, r.doc_id AS b,
                round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                      CAST(len(list_distinct(list_concat(l.tk, r.tk))) AS DOUBLE), 4) AS jaccard
         FROM toks l JOIN toks r ON l.lang = r.lang AND l.n_chars = r.n_chars AND l.doc_id < r.doc_id
         WHERE round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                     CAST(len(list_distinct(list_concat(l.tk, r.tk))) AS DOUBLE), 4) >= 0.5""",
    "dd_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, lang, n_chars // 32 AS blk,
                             list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0) AS l
                      FROM documents),
              grams AS (SELECT doc_id, lang, blk,
                               list_distinct(CASE WHEN len(l) >= 3
                                 THEN list_transform(generate_series(1, len(l) - 2), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
                                 ELSE l END) AS tk
                        FROM toks)
         SELECT l.doc_id AS a, r.doc_id AS b,
                round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                      CAST(len(list_distinct(list_concat(l.tk, r.tk))) AS DOUBLE), 4) AS jaccard
         FROM grams l JOIN grams r ON l.lang = r.lang AND l.blk = r.blk AND l.doc_id < r.doc_id
         WHERE round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                     CAST(len(list_distinct(list_concat(l.tk, r.tk))) AS DOUBLE), 4) >= 0.3""",
    "dd_containment" ->
      """WITH toks AS (SELECT doc_id, lang, n_chars // 32 AS blk,
                             list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0) AS l
                      FROM documents),
              grams AS (SELECT doc_id, lang, blk,
                               list_distinct(CASE WHEN len(l) >= 3
                                 THEN list_transform(generate_series(1, len(l) - 2), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
                                 ELSE l END) AS tk
                        FROM toks),
              p AS (SELECT l.doc_id AS a, r.doc_id AS b,
                           round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                                 CAST(len(l.tk) AS DOUBLE), 4) AS cont_ab,
                           round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                                 CAST(len(r.tk) AS DOUBLE), 4) AS cont_ba,
                           round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                                 CAST(len(list_distinct(list_concat(l.tk, r.tk))) AS DOUBLE), 4) AS jaccard
                    FROM grams l JOIN grams r ON l.lang = r.lang AND l.blk = r.blk AND l.doc_id < r.doc_id)
         SELECT a, b, cont_ab, cont_ba, jaccard FROM p
         WHERE greatest(cont_ab, cont_ba) >= 0.3""",
    // SRP bucket + probe + cap replay (EmbeddingOracleSql): the
    // embedding-LSH family is hash-checkable end-to-end since r9
    "dd_embedding" -> EmbeddingOracleSql.cosinePairs(threshold = 0.25),
    "dd_embedding_resolve" -> EmbeddingOracleSql.cosineResolve(threshold = 0.95),
    "ann_incremental" -> EmbeddingOracleSql.crossCosine(threshold = 0.25),
    "pp_bitext_mine" -> EmbeddingOracleSql.bitextMutualBest(threshold = 0.4),
    "ann_lsh" -> EmbeddingOracleSql.lshTopK(k = 10, nBits = 6, probeBits = 4),
    "ann_brute" -> annBruteSql,
    "q_mmr" -> mmrSql,
    // the label equi-filter joins into the rank partition — candidates
    // restricted to the query's label BEFORE scoring, ties on id
    "ann_filtered" ->
      s"""SELECT query_id, label, neighbor_id, rank, cos FROM (
           SELECT q.vec_id AS query_id, q.label, e.vec_id AS neighbor_id,
                  row_number() OVER (PARTITION BY q.vec_id
                                     ORDER BY list_cosine_similarity(CAST(CAST(q.embedding AS FLOAT[]) AS DOUBLE[]), CAST(CAST(e.embedding AS FLOAT[]) AS DOUBLE[])) DESC,
                                              e.vec_id ASC) AS rank,
                  round(list_cosine_similarity(CAST(CAST(q.embedding AS FLOAT[]) AS DOUBLE[]), CAST(CAST(e.embedding AS FLOAT[]) AS DOUBLE[])), 6) AS cos
           FROM embeddings q JOIN embeddings e ON e.label = q.label
           WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id)
         WHERE rank <= 10""",
    "ann_matryoshka" -> annMatryoshkaSql,
    "ann_mrl_rerank" -> annMrlRerankSql,
    // quantize → dequant → FLOAT storage hop → the same cosine fold:
    // the store CTEs are the shared int8QuantizeCtes replay
    "ann_quantized" ->
      s"""WITH $int8QuantizeCtes,
              store AS (SELECT vec_id,
                               CAST(CAST(list_transform(codes, x -> CAST(x AS DOUBLE) * s) AS FLOAT[]) AS DOUBLE[]) AS se
                        FROM c),
              qs AS (SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS qe
                     FROM embeddings WHERE vec_id < 10)
         SELECT query_id, neighbor_id, rank, cos FROM (
           SELECT qs.vec_id AS query_id, store.vec_id AS neighbor_id,
                  row_number() OVER (PARTITION BY qs.vec_id
                                     ORDER BY list_cosine_similarity(qs.qe, store.se) DESC,
                                              store.vec_id ASC) AS rank,
                  round(list_cosine_similarity(qs.qe, store.se), 6) AS cos
           FROM qs, store
           WHERE store.vec_id <> qs.vec_id)
         WHERE rank <= 10""",
    "txt_quality" ->
      """WITH t AS (SELECT doc_id, text,
                           list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0) AS toks
                    FROM documents),
              f AS (SELECT doc_id, text, toks,
                           len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS n_tokens,
                           len(list_filter(string_split_regex(text, '\W+'), w -> len(w) > 0))
                             + length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_subwords,
                           round(CAST(length(regexp_replace(text, '[\w\s]+', '', 'g')) AS DOUBLE) /
                                 greatest(CAST(length(text) AS DOUBLE), 1.0), 4) AS punct_ratio,
                           round(CAST(len(list_filter(toks, w -> list_contains(['the','a','an','and','or','of','to','in','is'], w))) AS DOUBLE) /
                                 greatest(CAST(len(toks) AS DOUBLE), 1.0), 4) AS stopword_ratio,
                           round(CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) /
                                 greatest(CAST(len(toks) AS DOUBLE), 1.0), 4) AS mean_token_len
                    FROM t)
         SELECT doc_id, n_tokens, n_subwords, punct_ratio, stopword_ratio, mean_token_len,
                (length(text) >= 20 AND n_tokens >= 5 AND punct_ratio < 0.3
                 AND mean_token_len BETWEEN 2.0 AND 12.0) AS quality_ok
         FROM f""",
    "txt_repetition" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0) AS l
                    FROM documents),
              g AS (SELECT doc_id, l,
                           CASE WHEN len(l) >= 2 THEN list_transform(generate_series(1, len(l) - 1), i -> l[i] || ' ' || l[i+1]) ELSE l END AS g2,
                           CASE WHEN len(l) >= 3 THEN list_transform(generate_series(1, len(l) - 2), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) ELSE l END AS g3
                    FROM t),
              r AS (SELECT doc_id,
                           round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / greatest(CAST(len(g2) AS DOUBLE), 1.0), 4) AS dup2_ratio,
                           round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / greatest(CAST(len(g3) AS DOUBLE), 1.0), 4) AS dup3_ratio
                    FROM g),
              tok AS (SELECT doc_id, unnest(l) AS tok FROM t),
              tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
              tf AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_tok_frac FROM tc GROUP BY doc_id)
         SELECT r.doc_id, r.dup2_ratio, r.dup3_ratio, tf.top_tok_frac FROM r JOIN tf USING (doc_id)""",
    // the fixture boundary-plant replayed (every 5th word gains '.'),
    // then the same explicit character class; RE2 and Java agree on it
    "txt_sentences" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
         p AS (
           SELECT doc_id,
                  string_agg(CASE WHEN g.i % 5 = 0 THEN arr[g.i] || '.'
                                  ELSE arr[g.i] END, ' ' ORDER BY g.i) AS ptext
           FROM w, UNNEST(generate_series(1, len(arr))) AS g(i)
           GROUP BY doc_id),
         t AS (
           SELECT doc_id, regexp_split_to_array(ptext, '[.!?]+[ \t\n\r]+') AS arr
           FROM p)
         SELECT doc_id, CAST(gs.i - 1 AS INT) AS sent_idx, arr[gs.i] AS sentence
         FROM t, UNNEST(generate_series(1, len(arr))) AS gs(i)
         WHERE length(trim(arr[gs.i])) > 0""",

    "txt_fingerprint" ->
      "SELECT doc_id, substring(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16) AS fp16 FROM documents",

    // the normalization-gated dedup: composed suffix on the %10==0
    // originals, decomposed spelling on their +1e9 twins — NFC makes
    // the md5s collide, keep-min resolves to the original
    "dd_exact_nfc" ->
      """WITH corpus AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 10 = 0
                       THEN text || ' ' || chr(233) || chr(224) || chr(239)
                       ELSE text END AS text
           FROM documents
           UNION ALL
           SELECT doc_id + 1000000000,
                  text || ' e' || chr(769) || 'a' || chr(768) || 'i' || chr(776)
           FROM documents WHERE doc_id % 10 = 0)
         SELECT md5(nfc_normalize(text)) AS content_md5,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM corpus GROUP BY 1""",

    // NFKC+casefold replay via the exact-columns device: DuckDB has no
    // NFKC surface, so the oracle substitutes the KNOWN folded form of
    // each planted suffix (certified kernel-equals-constant in
    // FunctionsSpec) and lower() for the ASCII body (ASCII simple fold
    // == lower; the corpus is ASCII by construction). Ligature original
    // and case/fullwidth/superscript twin both land on ' file abc 25'.
    "dd_exact_nfkc" ->
      """WITH corpus AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 10 = 0
                       THEN lower(text) || ' file abc 25'
                       ELSE lower(text) END AS ntext
           FROM documents
           UNION ALL
           SELECT doc_id + 1000000000, lower(text) || ' file abc 25'
           FROM documents WHERE doc_id % 10 = 0)
         SELECT md5(ntext) AS content_md5,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM corpus GROUP BY 1""",

    // NFC replay: DuckDB's nfc_normalize implements the same TR-15 spec
    // as java.text.Normalizer; the decomposed plants (chr 769/768/776 =
    // combining acute/grave/diaeresis) compose on both engines
    "txt_normalize" ->
      """SELECT d.doc_id,
                CAST(length(d.text || p.p) AS INT) AS raw_chars,
                CAST(length(nfc_normalize(d.text || p.p)) AS INT) AS norm_chars,
                nfc_normalize(d.text || p.p) AS norm_text
         FROM documents d, LATERAL (SELECT CASE d.doc_id % 3
                WHEN 0 THEN ' cafe' || chr(769)
                WHEN 1 THEN ' a' || chr(768) || ' la'
                ELSE ' nai' || chr(776) || 've' END AS p) p""",
    // replays the RollingHash Catalyst expression bit-for-bit: wrapping
    // 64-bit polynomial h = 31*h + byte (seed 1125899906842597) in
    // HUGEINT mod 2^64, re-signed at the end (ASCII corpus → ord ==
    // UTF-8 byte); list_reduce folds the byte list with the seed
    // prepended, so an empty text hashes to the seed like the kernel
    "txt_rollinghash" ->
      """SELECT doc_id,
                CAST(CASE WHEN hh >= 9223372036854775808::HUGEINT
                          THEN hh - 18446744073709551616::HUGEINT ELSE hh END AS BIGINT) AS rh
         FROM (SELECT doc_id,
                      list_reduce(
                        list_prepend(1125899906842597::HUGEINT,
                          list_transform(range(1, length(text)+1),
                                         i -> ord(substr(text, i, 1))::HUGEINT)),
                        (acc, b) -> (31::HUGEINT * acc + b) % 18446744073709551616::HUGEINT) AS hh
               FROM documents)""",
    // replays TextFunctions.argmaxLangFast exactly: per-language marker hit
    // counts over the same tokenization; winner = first language in
    // alphabetical order (de,en,es,fr,zh) achieving the strict maximum,
    // 'und' when no marker hits at all
    "txt_langid" ->
      """WITH t AS (SELECT doc_id, lang,
                           list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0) AS toks
                    FROM documents),
              s AS (SELECT doc_id, lang,
                           len(list_filter(toks, w -> list_contains(['der','die','das','und','ist','nicht'], w))) AS s_de,
                           len(list_filter(toks, w -> list_contains(['the','and','of','is','was','with'], w))) AS s_en,
                           len(list_filter(toks, w -> list_contains(['el','los','las','es','una','que'], w))) AS s_es,
                           len(list_filter(toks, w -> list_contains(['le','la','les','et','est','une'], w))) AS s_fr,
                           len(list_filter(toks, w -> list_contains(['de5','shi4','zhe4','bu4','le5','wo3'], w))) AS s_zh
                    FROM t)
         SELECT doc_id, lang,
                CASE WHEN s_de <= 0 AND s_en <= 0 AND s_es <= 0 AND s_fr <= 0 AND s_zh <= 0 THEN 'und'
                     WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                     WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                     WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                     WHEN s_fr >= s_zh THEN 'fr'
                     ELSE 'zh' END AS lang_pred
         FROM s""",
    "txt_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0)) AS term
                       FROM documents WHERE doc_id IS NOT NULL),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
              df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
              n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT tf.doc_id, tf.term, tf.tf,
                round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4) AS tfidf
         FROM tf JOIN df USING (term) CROSS JOIN n""",
    // ln is detLnSql — bit-identical to Spark's detLn (no libm), so the
    // floor(·1e6) micro-nat quantization can never straddle a boundary
    // cross-engine; the mean is BIGINT division, no double round at all
    "txt_unigram_lp" ->
      s"""WITH $unigramLmCtes
         SELECT doc_id, n_tok, avg_nll_micro FROM lm""",
    // BM25: idf as a DIFFERENCE of detLnSql integer logs (the x2 trick
    // folds the 0.5 smoothing into odd integers), the k1=6/5 b=3/4
    // saturation term as one correctly-rounded division of exact
    // integers, and per-term micro-unit floors summed as BIGINTs —
    // every double on both engines is the same 64 bits
    "txt_bm25" ->
      s"""WITH $bm25Ctes
         SELECT doc_id, n_hit, bm25_micro FROM bm25""",

    // the streaming twin shares the batch oracle verbatim (accumulated
    // per-batch stats reproduce the batch statistics exactly)
    "txt_bm25_streaming" ->
      s"""WITH $bm25Ctes
         SELECT doc_id, n_hit, bm25_micro FROM bm25""",

    // hybrid retrieval: the lexical top-20 (bm25 rank, integer total
    // order with id tie-break) fused with the semantic top-20 (exact
    // cosine rank from the ann_brute replay) by Reciprocal Rank Fusion
    // — 1e6 // (60 + rank) integer division, exact on both engines
    "q_hybrid_retrieval" ->
      s"""WITH $bm25Ctes,
              lex AS (SELECT doc_id, lex_rank FROM (
                        SELECT doc_id,
                               CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id ASC) AS INT) AS lex_rank
                        FROM bm25) WHERE lex_rank <= 20),
              sem AS (SELECT neighbor_id AS doc_id, sem_rank FROM (
                        SELECT e.vec_id AS neighbor_id,
                               CAST(row_number() OVER (ORDER BY list_cosine_similarity(CAST(CAST(q.embedding AS FLOAT[]) AS DOUBLE[]), CAST(CAST(e.embedding AS FLOAT[]) AS DOUBLE[])) DESC,
                                                       e.vec_id ASC) AS INT) AS sem_rank
                        FROM embeddings q, embeddings e
                        WHERE q.vec_id = 0 AND e.vec_id <> 0) WHERE sem_rank <= 20)
         SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
                CAST(COALESCE(1000000 // (60 + l.lex_rank), 0) +
                     COALESCE(1000000 // (60 + s.sem_rank), 0) AS BIGINT) AS rrf_micro
         FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id""",
    // the detokenizer's target derived from the RAW text: the
    // tokenizer's normalization is lower + collapse \W (word
    // separators carry no ids), so a faithful encode->decode round
    // trip must reproduce exactly this string
    "txt_bpe_decode" ->
      """SELECT doc_id,
                regexp_replace(lower(text), '\W+', '', 'g') AS decoded,
                CAST(length(regexp_replace(lower(text), '\W+', '', 'g')) AS BIGINT) AS n_norm
         FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL""",

    // bigram LM: conditional surprisal as a DIFFERENCE of detLnSql
    // integer logs (left-count vs bigram count), micro-floors summed
    // and divided as BIGINTs — the unigram device one order up
    "txt_bigram_lp" ->
      s"""WITH bt AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), w -> len(w) > 0) AS ts
                      FROM documents WHERE doc_id IS NOT NULL),
              bgi AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 1)) AS i, ts
                      FROM bt WHERE len(ts) >= 2),
              bge AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2 FROM bgi),
              tf2 AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf FROM bge GROUP BY doc_id, w1, w2),
              c2t AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c2 FROM tf2 GROUP BY w1, w2),
              c1t AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2t GROUP BY w1),
              wt AS (SELECT c2t.w1, c2t.w2,
                            CAST(floor((${TextFunctions.detLnSql("c1")} - ${TextFunctions.detLnSql("c2")}) * 1000000.0e0) AS BIGINT) AS w_micro
                     FROM c2t JOIN c1t USING (w1))
         SELECT tf2.doc_id, CAST(sum(tf2.tf) AS BIGINT) AS n_bigrams,
                CAST(CAST(sum(tf2.tf * wt.w_micro) AS BIGINT) // CAST(sum(tf2.tf) AS BIGINT) AS BIGINT) AS avg_nll2_micro
         FROM tf2 JOIN wt USING (w1, w2)
         GROUP BY tf2.doc_id""",

    // CCNet head/middle/tail terciles per language: the lm CTE feeds a
    // cumulative (lang, score) histogram; cuts are integer
    // cross-multiplications (3*cum >= n), identical to the Spark side
    "txt_ppl_buckets" ->
      s"""WITH $unigramLmCtes,
              scored AS (SELECT d.doc_id, d.lang, lm.avg_nll_micro
                         FROM documents d LEFT JOIN lm USING (doc_id)),
              counts AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM scored
                         WHERE avg_nll_micro IS NOT NULL GROUP BY lang),
              hist AS (SELECT lang, avg_nll_micro, CAST(count(*) AS BIGINT) AS c FROM scored
                       WHERE avg_nll_micro IS NOT NULL GROUP BY lang, avg_nll_micro),
              cum AS (SELECT h.lang, h.avg_nll_micro,
                             sum(h.c) OVER (PARTITION BY h.lang ORDER BY h.avg_nll_micro
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                             c2.nl
                      FROM hist h JOIN counts c2 USING (lang)),
              th AS (SELECT lang,
                            min(CASE WHEN cum * 3 >= nl THEN avg_nll_micro END) AS t1,
                            min(CASE WHEN cum * 3 >= 2 * nl THEN avg_nll_micro END) AS t2
                     FROM cum GROUP BY lang)
         SELECT s.doc_id, s.lang, s.avg_nll_micro,
                CASE WHEN s.avg_nll_micro IS NULL THEN 'empty'
                     WHEN s.lang IS NULL THEN 'unknown'
                     WHEN s.avg_nll_micro <= th.t1 THEN 'head'
                     WHEN s.avg_nll_micro <= th.t2 THEN 'middle'
                     ELSE 'tail' END AS ppl_bucket
         FROM scored s LEFT JOIN th USING (lang)""",
    // frozen hashed-linear classifier replay: token XXH64 + BIGINT
    // weight rule + integer keep decision (ClassifierOracleSql)
    "txt_classifier" -> ClassifierOracleSql.classifierScore(buckets = 1 << 20, thrMilli = 0L),
    "txt_diversity" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0) AS toks
                    FROM documents),
              u AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
                           list_distinct(toks) AS uniq
                    FROM t),
              s AS (SELECT doc_id, n,
                           list_sum(list_transform(uniq,
                             c -> CAST(len(list_filter(toks, x -> x = c)) AS BIGINT) *
                                  CAST(len(list_filter(toks, x -> x = c)) AS BIGINT))) AS sum_sq
                    FROM u)
         SELECT doc_id,
                CASE WHEN n > 0
                     THEN round(1.0 - CAST(sum_sq AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 4)
                     ELSE 0.0 END AS diversity
         FROM s""",
    "pp_weights" ->
      """WITH c AS (SELECT md5(text) AS content_md5, count(*) AS n_copies FROM documents GROUP BY 1)
         SELECT d.doc_id, c.n_copies, round(1.0 / c.n_copies, 4) AS weight
         FROM documents d JOIN c ON md5(d.text) = c.content_md5""",
    "pp_sample_n" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM documents)
         ORDER BY h, doc_id LIMIT 100""",
    "pp_sample_weighted" ->
      s"""WITH g AS (SELECT doc_id, lang,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1 AS h1,
                       CASE WHEN lang = 'en' THEN 4 ELSE 1 END AS w
                     FROM documents),
              s AS (SELECT doc_id, lang,
                       ${TextFunctions.weightedSampleScoreSql("g.h1", "g.w")} AS sc
                    FROM g)
         SELECT doc_id, lang FROM s ORDER BY sc, doc_id LIMIT 100""",
    "pp_delta" ->
      """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 3),
              n AS (SELECT doc_id, md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END) AS h
                    FROM documents WHERE doc_id % 10 <> 7)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN n.doc_id IS NULL THEN 'removed'
                     WHEN o.h IS DISTINCT FROM n.h THEN 'changed' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         WHERE (o.doc_id IS NULL OR n.doc_id IS NULL OR o.h IS DISTINCT FROM n.h)""",
    "pp_dsir" -> DsirOracleSql.dsirWeights(buckets = 8192,
      targetPredicate = "lang = 'en'", topN = 100),
    "pp_topquality" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0) AS toks
                    FROM documents),
              u AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n, list_distinct(toks) AS uniq FROM t),
              s AS (SELECT doc_id, n,
                           list_sum(list_transform(uniq,
                             c -> CAST(len(list_filter(toks, x -> x = c)) AS BIGINT) *
                                  CAST(len(list_filter(toks, x -> x = c)) AS BIGINT))) AS sum_sq
                    FROM u),
              v AS (SELECT doc_id,
                           CASE WHEN n > 0
                                THEN round(1.0 - CAST(sum_sq AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 4)
                                ELSE 0.0 END AS diversity
                    FROM s)
         SELECT doc_id, diversity FROM v ORDER BY diversity DESC, doc_id ASC LIMIT 25""",
    "pp_histogram" ->
      """WITH b AS (SELECT CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin
                    FROM events WHERE value IS NOT NULL)
         SELECT bin, bin * 25.0 AS lo, (bin + 1) * 25.0 AS hi, count(*) AS n
         FROM b GROUP BY bin""",
    "txt_redact" ->
      """SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(
                  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.0.7 or +1 (555) 123-4567 now',
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '(^|[^0-9])(\+?\d{1,3}[-. ]?)?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}\b', '\1<PHONE>', 'g') AS redacted
         FROM documents""",
    "dd_components" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0)) AS tk,
                                        lang, n_chars
                                 FROM documents),
              p AS (SELECT l.doc_id AS a, r.doc_id AS b
                    FROM toks l JOIN toks r ON l.lang = r.lang AND l.n_chars = r.n_chars AND l.doc_id < r.doc_id
                    WHERE round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                                CAST(len(list_distinct(list_concat(l.tk, r.tk))) AS DOUBLE), 4) >= 0.5),
              edges AS (SELECT a AS src, b AS dst FROM p UNION SELECT b AS src, a AS dst FROM p),
              reach AS (SELECT src AS node, src AS comp FROM edges
                        UNION
                        SELECT e.src AS node, r.comp AS comp FROM edges e JOIN reach r ON e.dst = r.node)
         SELECT node, min(comp) AS comp FROM reach GROUP BY node""",
    "dd_resolve" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0)) AS tk,
                                        lang, n_chars
                                 FROM documents),
              p AS (SELECT l.doc_id AS a, r.doc_id AS b
                    FROM toks l JOIN toks r ON l.lang = r.lang AND l.n_chars = r.n_chars AND l.doc_id < r.doc_id
                    WHERE round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                                CAST(len(list_distinct(list_concat(l.tk, r.tk))) AS DOUBLE), 4) >= 0.5),
              edges AS (SELECT a AS src, b AS dst FROM p UNION SELECT b AS src, a AS dst FROM p),
              reach AS (SELECT src AS node, src AS comp FROM edges
                        UNION
                        SELECT e.src AS node, r.comp AS comp FROM edges e JOIN reach r ON e.dst = r.node),
              losers AS (SELECT node FROM (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
                         WHERE node <> comp)
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT node FROM losers)""",
    "dd_resolve_best" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\\W+'), w -> len(w) > 0)) AS tk,
                                        lang, n_chars
                                 FROM documents),
              p AS (SELECT l.doc_id AS a, r.doc_id AS b
                    FROM toks l JOIN toks r ON l.lang = r.lang AND l.n_chars = r.n_chars AND l.doc_id < r.doc_id
                    WHERE round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                                CAST(len(list_distinct(list_concat(l.tk, r.tk))) AS DOUBLE), 4) >= 0.5),
              edges AS (SELECT a AS src, b AS dst FROM p UNION SELECT b AS src, a AS dst FROM p),
              reach AS (SELECT src AS node, src AS comp FROM edges
                        UNION
                        SELECT e.src AS node, r.comp AS comp FROM edges e JOIN reach r ON e.dst = r.node),
              comp AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
              tt AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'), w -> len(w) > 0)) AS term
                     FROM documents),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY doc_id, term),
              uni AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
              n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM uni),
              wt AS (SELECT term, CAST(floor((${TextFunctions.detLnSql("n.n_total")} - ${TextFunctions.detLnSql("uni.cnt")}) * 1000000.0e0) AS BIGINT) AS w_micro
                     FROM uni CROSS JOIN n),
              lm AS (SELECT tf.doc_id,
                            CAST(CAST(sum(tf.tf * wt.w_micro) AS BIGINT) // CAST(sum(tf.tf) AS BIGINT) AS BIGINT) AS avg_nll_micro
                     FROM tf JOIN wt USING (term) GROUP BY tf.doc_id),
              scored AS (SELECT c.node, c.comp, coalesce(lm.avg_nll_micro, 9223372036854775807) AS s
                         FROM comp c LEFT JOIN lm ON lm.doc_id = c.node),
              rk AS (SELECT node, row_number() OVER (PARTITION BY comp ORDER BY s ASC, node ASC) AS rk
                     FROM scored),
              losers AS (SELECT node FROM rk WHERE rk > 1)
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT node FROM losers)""",
    "pp_split_grouped" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0)) AS tk,
                                        lang, n_chars
                                 FROM documents),
              p AS (SELECT l.doc_id AS a, r.doc_id AS b
                    FROM toks l JOIN toks r ON l.lang = r.lang AND l.n_chars = r.n_chars AND l.doc_id < r.doc_id
                    WHERE round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                                CAST(len(list_distinct(list_concat(l.tk, r.tk))) AS DOUBLE), 4) >= 0.5),
              edges AS (SELECT a AS src, b AS dst FROM p UNION SELECT b AS src, a AS dst FROM p),
              reach AS (SELECT src AS node, src AS comp FROM edges
                        UNION
                        SELECT e.src AS node, r.comp AS comp FROM edges e JOIN reach r ON e.dst = r.node),
              comp AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
              g AS (SELECT d.doc_id,
                           ('0x' || substr(md5(CAST(coalesce(c.comp, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
                    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
         SELECT doc_id, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         FROM g""",
    "dd_incremental" ->
      """WITH nb AS (SELECT doc_id, md5(text) AS content_md5 FROM documents WHERE doc_id % 10 = 0),
              corp AS (SELECT DISTINCT md5(text) AS content_md5 FROM documents WHERE doc_id % 10 <> 0),
              keepb AS (SELECT content_md5, min(doc_id) AS keep_id FROM nb GROUP BY content_md5)
         SELECT content_md5, keep_id FROM keepb
         WHERE content_md5 NOT IN (SELECT content_md5 FROM corp)""",
    // the oracle brute-forces what the Spark side finds via deletion-
    // neighborhood blocking; the length band only prunes pairs Levenshtein
    // would reject anyway (|len diff| > maxDist ⇒ dist > maxDist)
    "dd_fuzzy" ->
      """SELECT a.c_custkey AS a, b.c_custkey AS b,
                levenshtein(a.c_name, b.c_name) AS dist
         FROM customer a JOIN customer b
           ON a.c_custkey < b.c_custkey
          AND abs(length(a.c_name) - length(b.c_name)) <= 1
         WHERE levenshtein(a.c_name, b.c_name) <= 1""",
    "dd_url" ->
      """WITH u AS (SELECT doc_id,
                           'HTTPS://Example' || (doc_id % 7) || '.COM:443/Path' || (doc_id % 50) ||
                           '/?utm_source=feed&id=' || (doc_id % 25) || '&utm_campaign=x#sec' || (doc_id % 3) AS url
                    FROM documents),
              s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nofrag FROM u),
              s2 AS (SELECT doc_id, nofrag,
                            lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                            lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
                            regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest0
                     FROM s1),
              s3 AS (SELECT doc_id, scheme,
                            CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                                 WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
                                 ELSE hostport END AS host,
                            regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                              regexp_replace(regexp_replace(rest0, '([?&])utm_[A-Za-z_]+=[^&]*', '\1', 'g'),
                              '&&+', '&', 'g'), '\?&', '?', 'g'), '[?&]+$', ''), '/\?', '?', 'g'), '/$', '') AS rest
                     FROM s2)
         SELECT scheme || '://' || host || rest AS curl,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM s3 GROUP BY 1""",
    "pp_profile" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM documents)
         SELECT 'doc_id' AS col_name, n.n_rows, count(doc_id) AS n_nonnull,
                count(DISTINCT doc_id) AS n_distinct,
                min(CAST(doc_id AS VARCHAR)) AS min_s, max(CAST(doc_id AS VARCHAR)) AS max_s
         FROM documents, n GROUP BY n.n_rows
         UNION ALL
         SELECT 'lang', n.n_rows, count(lang), count(DISTINCT lang),
                min(CAST(lang AS VARCHAR)), max(CAST(lang AS VARCHAR))
         FROM documents, n GROUP BY n.n_rows
         UNION ALL
         SELECT 'n_chars', n.n_rows, count(n_chars), count(DISTINCT n_chars),
                min(CAST(n_chars AS VARCHAR)), max(CAST(n_chars AS VARCHAR))
         FROM documents, n GROUP BY n.n_rows
         UNION ALL
         SELECT 'text', n.n_rows, count(text), count(DISTINCT text),
                min(CAST(text AS VARCHAR)), max(CAST(text AS VARCHAR))
         FROM documents, n GROUP BY n.n_rows""",
    "pp_interleave" ->
      """WITH h AS (SELECT doc_id, lang,
                           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
                    FROM documents),
              li AS (SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS idx
                     FROM (SELECT DISTINCT lang FROM documents)),
              k AS (SELECT count(*) AS k FROM li),
              r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) - 1 AS r
                    FROM h)
         SELECT r.doc_id, r.lang, CAST(r.r * k.k + li.idx AS BIGINT) AS pos
         FROM r JOIN li USING (lang) CROSS JOIN k""",
    "pp_dedup_report" ->
      """WITH c AS (SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1)
         SELECT CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_distinct,
                CAST(sum(n) - count(*) AS BIGINT) AS n_dropped,
                round(CAST(sum(n) - count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 4) AS dup_rate
         FROM c""",
    "pp_decontam" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0) AS l
                       FROM documents),
              grams AS (SELECT doc_id,
                               CASE WHEN len(l) >= 8
                                 THEN list_distinct(list_transform(generate_series(1, len(l) - 7),
                                        i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' ||
                                             l[i+4] || ' ' || l[i+5] || ' ' || l[i+6] || ' ' || l[i+7]))
                                 ELSE CAST([] AS VARCHAR[]) END AS g
                        FROM toks),
              ev AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 10 = 0),
              co AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 10 <> 0)
         SELECT DISTINCT co.doc_id AS doc_id FROM co JOIN ev ON co.gram = ev.gram""",
    "pp_stratified" ->
      """WITH v AS (SELECT doc_id, lang,
                           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
                    FROM documents)
         SELECT doc_id, lang FROM v
         WHERE b < CASE WHEN lang = 'en' THEN 3000 ELSE 8000 END""",
    "pp_pack" ->
      """WITH t AS (SELECT doc_id,
                           CAST(len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS BIGINT) AS n_tok
                    FROM documents),
              c AS (SELECT doc_id, n_tok,
                           sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
                    FROM t)
         SELECT doc_id, n_tok, CAST((cum - n_tok) // 512 AS BIGINT) AS bin FROM c""",
    "pp_length_buckets" ->
      """WITH t AS (SELECT doc_id,
                           CAST(len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS BIGINT) AS n_tok
                    FROM documents),
              b AS (SELECT doc_id, n_tok,
                           CASE WHEN n_tok < 32 THEN 0 WHEN n_tok < 64 THEN 1
                                WHEN n_tok < 128 THEN 2 WHEN n_tok < 256 THEN 3
                                ELSE 4 END AS bucket
                    FROM t)
         SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
                CAST((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 8 AS BIGINT) AS batch_id
         FROM b""",
    "pp_anchor_text" ->
      s"""WITH $htmlCte,
         $anchorEdgeCte,
         pa AS (SELECT href, anchor, count(*) AS cnt FROM e WHERE href IS NOT NULL GROUP BY 1, 2),
         top AS (SELECT href, anchor AS top_anchor, cnt AS top_cnt FROM (
                   SELECT *, row_number() OVER (PARTITION BY href ORDER BY cnt DESC, anchor ASC) AS rn
                   FROM pa) WHERE rn = 1),
         tot AS (SELECT href, count(*) AS n_links, count(DISTINCT doc_id) AS n_docs
                 FROM e WHERE href IS NOT NULL GROUP BY 1)
         SELECT t.href, t.n_links, t.n_docs, p.top_anchor, p.top_cnt
         FROM tot t JOIN top p ON t.href = p.href""",
    "pp_datacard" ->
      """WITH per AS (SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
                             CAST(sum(n_chars) AS BIGINT) AS total_chars
                      FROM documents GROUP BY source)
         SELECT source, n_docs, n_langs, total_chars,
                CAST((n_docs * 10000) // (SELECT sum(n_docs) FROM per) AS BIGINT) AS share_bp
         FROM per""",
    // the streaming card converges to the batch card — SAME oracle
    "pp_datacard_streaming" ->
      """WITH per AS (SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
                             CAST(sum(n_chars) AS BIGINT) AS total_chars
                      FROM documents GROUP BY source)
         SELECT source, n_docs, n_langs, total_chars,
                CAST((n_docs * 10000) // (SELECT sum(n_docs) FROM per) AS BIGINT) AS share_bp
         FROM per""",
    "pp_mixture_epochs" ->
      """WITH t AS (SELECT source,
                           CAST(len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS BIGINT) AS n_tok
                    FROM documents),
              per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS avail_toks FROM t GROUP BY source)
         SELECT source, avail_toks,
                CAST(1000000 // (SELECT count(*) FROM per) AS BIGINT) AS target_toks,
                CAST((1000000 // (SELECT count(*) FROM per) + avail_toks - 1) // avail_toks AS BIGINT) AS epochs
         FROM per""",
    "pp_pack_sft" ->
      """WITH t AS (SELECT doc_id,
                           '<|user|>' || substr(text, 1, length(text) // 2) ||
                           '<|assistant|>' || substr(text, length(text) // 2 + 1) ||
                           '<|end|>' AS sft_text,
                           8 + (length(text) // 2) + 13 + 1 AS mask_start,
                           8 + (length(text) // 2) + 13 + 1 +
                             (length(text) - length(text) // 2) AS mask_end
                    FROM documents),
         tok AS (SELECT *, CAST(len(list_filter(string_split_regex(sft_text, '\s+'),
                                                w -> len(w) > 0)) AS BIGINT) AS n_tok
                 FROM t),
         c AS (SELECT *, sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
               FROM tok),
         b AS (SELECT *, CAST((cum - n_tok) // 512 AS BIGINT) AS bin FROM c),
         o AS (SELECT *, COALESCE(sum(CAST(length(sft_text) AS BIGINT))
                           OVER (PARTITION BY bin ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS seq_off
               FROM b)
         SELECT doc_id, bin, n_tok,
                CAST(seq_off AS BIGINT) AS seq_off,
                CAST(mask_start + seq_off AS BIGINT) AS packed_mask_start,
                CAST(mask_end + seq_off AS BIGINT) AS packed_mask_end
         FROM o""",
    "pp_ingest" -> ppIngestSql,
    // the streaming composition converges to the identical result
    // (ascending-range micro-batches make first-accepted == keep-min),
    // so it certifies against the same replay
    "pp_ingest_streaming" -> ppIngestSql,
    "pp_pipeline" ->
      """WITH t AS (SELECT doc_id, text,
                           len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS n_tokens,
                           round(CAST(length(regexp_replace(text, '[\w\s]+', '', 'g')) AS DOUBLE) /
                                 greatest(CAST(length(text) AS DOUBLE), 1.0), 4) AS punct_ratio,
                           list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0) AS toks
                    FROM documents),
              q AS (SELECT doc_id, text, n_tokens FROM (
                      SELECT *, round(CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) /
                                      greatest(CAST(len(toks) AS DOUBLE), 1.0), 4) AS mtl
                      FROM t)
                    WHERE length(text) >= 20 AND n_tokens >= 5 AND punct_ratio < 0.3
                      AND mtl BETWEEN 2.0 AND 12.0),
              k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
              s AS (SELECT q.doc_id, q.n_tokens,
                           CASE WHEN ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
                                WHEN ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
                                ELSE 'test' END AS split
                    FROM q JOIN k USING (doc_id)),
              c AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tok,
                           sum(CAST(n_tokens AS BIGINT)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
                    FROM s WHERE split = 'train'),
              p AS (SELECT doc_id, CAST((cum - n_tok) // 512 AS BIGINT) AS bin FROM c)
         SELECT s.doc_id, s.split, CAST(coalesce(p.bin, -1) AS BIGINT) AS bin
         FROM s LEFT JOIN p USING (doc_id)""",
    "pp_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
              m AS (SELECT min(n_s) AS min_n FROM c),
              v AS (SELECT d.doc_id, d.lang,
                           ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b,
                           (m.min_n * 10000) // c.n_s AS thr
                    FROM documents d JOIN c USING (lang) CROSS JOIN m)
         SELECT doc_id, lang FROM v WHERE b < thr""",
    "pp_chunk" ->
      """WITH t AS (SELECT doc_id,
                           CAST(len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS BIGINT) AS n_tok
                    FROM documents),
              c AS (SELECT doc_id, n_tok,
                           CASE WHEN n_tok <= 128 THEN 1 ELSE 1 + (n_tok - 128 + 111) // 112 END AS n_chunks
                    FROM t WHERE n_tok > 0)
         SELECT doc_id, i AS chunk_idx, i * 112 AS tok_start, least(i * 112 + 128, n_tok) AS tok_end
         FROM c, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)""",
    // the chat template + loss-mask span replayed character-exact:
    // assistant content starts after "<|user|>" (8) + the user half +
    // "<|assistant|>" (13); [mask_start, mask_end) covers exactly the
    // second half of the original text
    "pp_sft_mask" ->
      """SELECT doc_id,
                '<|user|>' || substr(text, 1, length(text) // 2) ||
                '<|assistant|>' || substr(text, length(text) // 2 + 1) ||
                '<|end|>' AS sft_text,
                CAST(8 + length(text) // 2 + 13 + 1 AS INT) AS mask_start,
                CAST(8 + length(text) // 2 + 13 + 1
                     + (length(text) - length(text) // 2) AS INT) AS mask_end
         FROM documents""",
    // chosen = doc maximizing (n_tokens, doc_id) per lang, rejected =
    // the minimizer; singleton groups drop — integer score,
    // deterministic lexicographic tie-breaks
    "pp_preference_pairs" ->
      """WITH f AS (SELECT doc_id, lang,
                           len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS n_tokens
                    FROM documents),
              good AS (SELECT lang, doc_id AS chosen_id, n_tokens AS chosen_tokens,
                              row_number() OVER (PARTITION BY lang
                                ORDER BY n_tokens DESC, doc_id DESC) AS rn
                       FROM f),
              bad AS (SELECT lang, doc_id AS rejected_id, n_tokens AS rejected_tokens,
                             row_number() OVER (PARTITION BY lang
                               ORDER BY n_tokens ASC, doc_id ASC) AS rn
                      FROM f)
         SELECT g.lang, g.chosen_id, g.chosen_tokens,
                b.rejected_id, b.rejected_tokens,
                g.chosen_tokens - b.rejected_tokens AS token_gap
         FROM good g JOIN bad b ON g.lang = b.lang
         WHERE g.rn = 1 AND b.rn = 1 AND g.chosen_id <> b.rejected_id""",
    // PSM re-serialization on even ids, identity on odd — thirds by
    // character count, spans as integers
    "pp_fim" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN
                  '<PRE>' || substr(text, 1, length(text) // 3) ||
                  '<SUF>' || substr(text, 2 * (length(text) // 3) + 1) ||
                  '<MID>' || substr(text, length(text) // 3 + 1, length(text) // 3)
                ELSE text END AS fim_text,
                (doc_id % 2 = 0) AS fim_applied,
                CAST(CASE WHEN doc_id % 2 = 0 THEN length(text) // 3 ELSE 0 END AS INT) AS pre_len,
                CAST(CASE WHEN doc_id % 2 = 0 THEN length(text) // 3 ELSE 0 END AS INT) AS mid_len,
                CAST(CASE WHEN doc_id % 2 = 0 THEN length(text) - 2 * (length(text) // 3) ELSE 0 END AS INT) AS suf_len
         FROM documents""",
    "pp_weighted" ->
      """WITH c AS (SELECT lang, count(*) AS n_s,
                           CASE WHEN lang = 'de' THEN 2 ELSE 1 END AS w
                    FROM documents GROUP BY lang),
              u AS (SELECT min(n_s // w) AS mu FROM c),
              v AS (SELECT d.doc_id, d.lang,
                           ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b,
                           (c.w * u.mu * 10000) // c.n_s AS thr
                    FROM documents d JOIN c USING (lang) CROSS JOIN u)
         SELECT doc_id, lang FROM v WHERE b < thr""",
    "pp_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
              m AS (SELECT min(n_s) AS min_n FROM c),
              v AS (SELECT d.doc_id, d.lang,
                           ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b,
                           floor(10000.0 * sqrt(CAST(m.min_n AS DOUBLE) / c.n_s)) AS thr
                    FROM documents d JOIN c USING (lang) CROSS JOIN m)
         SELECT doc_id, lang FROM v WHERE b < thr""",
    "pp_shuffle" ->
      """WITH v AS (SELECT doc_id,
                           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8))::BIGINT AS h
                    FROM documents)
         SELECT doc_id, h % 32 AS shard,
                row_number() OVER (PARTITION BY h % 32 ORDER BY h, doc_id) AS pos
         FROM v""",
    "pp_curriculum" ->
      """WITH mx AS (SELECT max(n_chars) + 1 AS m FROM documents),
         t AS (SELECT doc_id, least(2, (n_chars * 3) // (SELECT m FROM mx)) AS tier
               FROM documents),
         ep AS (SELECT doc_id, tier, g.e AS epoch
                FROM t, UNNEST(generate_series(t.tier, 2)) AS g(e)),
         k AS (SELECT doc_id, tier, epoch,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                          CAST(epoch AS VARCHAR) || ':cur42'), 1, 8))::BIGINT AS h
               FROM ep)
         SELECT epoch, h % 8 AS bucket,
                row_number() OVER (PARTITION BY epoch, h % 8 ORDER BY h, doc_id) AS pos,
                doc_id, tier
         FROM k""",
    "pp_rejection_sample" ->
      """WITH c AS (SELECT doc_id, doc_id // 4 AS prompt_id,
                           (doc_id * 48271 + n_chars * 16807) % 100000 AS reward_milli
                    FROM documents),
         r AS (SELECT prompt_id, doc_id, reward_milli,
                      row_number() OVER (PARTITION BY prompt_id
                                         ORDER BY reward_milli DESC, doc_id ASC) AS rn,
                      count(*) OVER (PARTITION BY prompt_id) AS n_cand,
                      reward_milli - COALESCE(lead(reward_milli) OVER
                        (PARTITION BY prompt_id
                         ORDER BY reward_milli DESC, doc_id ASC), 0) AS margin
               FROM c)
         SELECT prompt_id, doc_id AS chosen_id, reward_milli AS best_reward,
                n_cand, margin
         FROM r WHERE rn = 1""",
    "dd_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    // the bounded-horizon twin replayed exactly (boundary rules pinned
    // by ProcessorsSpec): a user's FIRST batch emits at its
    // deterministic per-batch time (batch-1 dups of batch-0 keys all
    // drop — nothing is evicted before batch 1); batch-2 rows face the
    // batch-0 watermark (max batch-0 time − 1 h) twice over — at or
    // below it they drop as late, against still-live state
    // (first-arrival expiry strictly above the watermark) they drop as
    // duplicates, and against EXPIRED state they RE-EMIT
    "dd_stream_dedup_watermark" ->
      """WITH p AS (SELECT DISTINCT user_id, event_id % 3 AS b FROM events),
              u0 AS (SELECT user_id, 1704067200000000 + 3600000000 * (user_id % 24) AS us
                     FROM p WHERE b = 0),
              u1 AS (SELECT user_id, 1704067200000000 + 3600000000 * (21 + user_id % 5) AS us
                     FROM p WHERE b = 1),
              u2 AS (SELECT user_id, 1704067200000000 + 3600000000 * (20 + user_id % 7) AS us
                     FROM p WHERE b = 2),
              wm AS (SELECT max(us) - 3600000000 AS wm0 FROM u0),
              firsts AS (SELECT user_id, us FROM u0
                         UNION ALL
                         SELECT user_id, us FROM u1
                         WHERE user_id NOT IN (SELECT user_id FROM u0))
         SELECT user_id, us AS emit_us FROM firsts
         UNION ALL
         SELECT u2.user_id, u2.us AS emit_us
         FROM u2 CROSS JOIN wm LEFT JOIN firsts f ON f.user_id = u2.user_id
         WHERE u2.us > wm.wm0
           AND (f.user_id IS NULL OR f.us + 3600000000 <= wm.wm0)""",
    "pp_split" ->
      """WITH v AS (SELECT doc_id,
                           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
                    FROM documents)
         SELECT doc_id, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         FROM v""",
    // mm_quantize: every step replays the Spark HOFs' exact double
    // arithmetic — max is exact, the scale division and half-away-from-
    // zero rounding are single ops, and the cosine folds run in the
    // same sequential order as aggregate()'s left fold
    "mm_quantize" ->
      s"""WITH $int8QuantizeCtes,
              d AS (SELECT vec_id, v, s, codes,
                           list_transform(codes, x -> CAST(x AS DOUBLE) * s) AS dq
                    FROM c),
              m AS (SELECT vec_id,
                           CAST(len(codes) AS INTEGER) AS n_dims,
                           round(s, 6) AS scale6,
                           CAST(list_sum(codes) AS BIGINT) AS codes_sum,
                           CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT) AS codes_l1,
                           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                             list_transform(generate_series(1, len(v)), i -> v[i] * dq[i])), (a, b) -> a + b) AS dot,
                           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                             list_transform(v, x -> x * x)), (a, b) -> a + b)) AS na,
                           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                             list_transform(dq, x -> x * x)), (a, b) -> a + b)) AS nb
                    FROM d)
         SELECT vec_id, n_dims, scale6, codes_sum, codes_l1,
                round(CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (na * nb) END, 6) AS cos_fid6
         FROM m""",
    "mm_frames" ->
      """SELECT doc_id AS asset_id, i AS frame_idx, substring(text, i * 32 + 1, 32) AS frame_str
         FROM documents, UNNEST(generate_series(0, CAST(strlen(text) // 32 AS INT) - 1, 4)) AS t(i)""",
    "mm_resize" ->
      """WITH a AS (SELECT doc_id AS asset_id, text, CAST(strlen(text) // 32 AS INT) AS n_rows FROM documents),
              k AS (SELECT asset_id, r.i * 32 + c.j AS pos
                    FROM a, UNNEST(generate_series(0, n_rows - 1, 2)) AS r(i),
                         UNNEST(generate_series(0, 31, 2)) AS c(j)
                    WHERE n_rows > 0)
         SELECT a.asset_id,
                coalesce(string_agg(substring(a.text, k.pos + 1, 1), '' ORDER BY k.pos), '') AS resized
         FROM a LEFT JOIN k USING (asset_id)
         GROUP BY a.asset_id""",
    "mm_audio" ->
      """SELECT doc_id AS asset_id, i AS win_idx, substring(text, i * 32 + 1, 64) AS win_str
         FROM documents, UNNEST(generate_series(0, CAST((strlen(text) - 64) // 32 AS INT))) AS t(i)
         WHERE strlen(text) >= 64""",
    // NOTE: the Spark side computes UTF-8 BYTE features from the binary
    // payload; this oracle computes per-character codepoint features —
    // equivalent only for ASCII corpora (which the testdata is). A
    // non-ASCII corpus would need a byte-level oracle instead.
    "mm_features" ->
      """SELECT doc_id AS asset_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
                ascii(text) AS head_byte,
                CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS BIGINT) AS byte_sum
         FROM documents""",
    // the generator's integer formulas replayed directly — the Spark
    // side must recover exactly these fields by PARSING the bytes it
    // built (real header parse + RIFF chunk walk), so a builder or
    // parser bug breaks the hash
    "mm_decode" ->
      """SELECT doc_id AS asset_id,
                CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS kind,
                TRUE AS ok,
                CASE WHEN doc_id % 2 = 0 THEN CAST(1 + n_chars % 31 AS INTEGER) END AS width,
                CASE WHEN doc_id % 2 = 0 THEN CAST(1 + doc_id % 17 AS INTEGER) END AS height,
                CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 16 END AS bits,
                CASE WHEN doc_id % 2 = 1 THEN CAST(1 + (doc_id // 2) % 2 AS INTEGER) END AS channels,
                CASE WHEN doc_id % 2 = 1 THEN CAST(8000 + 1000 * (doc_id % 5) AS INTEGER) END AS sample_rate,
                CASE WHEN doc_id % 2 = 1 THEN CAST(1 + n_chars % 100 AS BIGINT) END AS n_samples
         FROM documents""",

    // the JPEG generator's integer formulas replayed per block: the
    // Spark side must recover exactly these pixels by Huffman-decoding,
    // dequantizing, and IDCT-ing real JPEG bytes — flat DC-only blocks
    // make the lossy path exact, so min == max == the formula value
    "mm_decode_jpeg" -> mmDecodeJpegSql,

    // the streaming twin shares the batch oracle verbatim (same
    // fixture formulas, same decode pipeline, real engine)
    "mm_decode_jpeg_streaming" -> mmDecodeJpegSql,

    // the color generator's Y/Cb/Cr formulas pushed through the JFIF
    // matrix with the SAME floor(v + 0.5) rounding and int clamps; the
    // chroma index map bx//2, by//2 replays the replication upsample
    "mm_jpeg_rgb" ->
      """WITH cg AS (SELECT d.doc_id AS asset_id,
                            CAST(gx.i AS INT) AS block_x,
                            CAST(gy.i AS INT) AS block_y,
                            CAST((d.doc_id * 3 + gx.i * 7 + gy.i * 11) % 256 AS INT) AS yv,
                            CAST((d.doc_id * 5 + (gx.i // 2) * 9 + (gy.i // 2) * 13) % 256 AS INT) AS cb,
                            CAST((d.doc_id * 7 + (gx.i // 2) * 3 + (gy.i // 2) * 5) % 256 AS INT) AS cr
                     FROM documents d,
                          UNNEST(generate_series(0, 3)) AS gx(i),
                          UNNEST(generate_series(0, 3)) AS gy(i)
                     WHERE gx.i < 2 * (1 + d.doc_id % 2))
         SELECT asset_id, block_x, block_y,
                LEAST(255, GREATEST(0, CAST(floor(yv + 1.402 * (cr - 128) + 0.5) AS INT))) AS r_min,
                LEAST(255, GREATEST(0, CAST(floor(yv + 1.402 * (cr - 128) + 0.5) AS INT))) AS r_max,
                LEAST(255, GREATEST(0, CAST(floor(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5) AS INT))) AS g_min,
                LEAST(255, GREATEST(0, CAST(floor(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5) AS INT))) AS g_max,
                LEAST(255, GREATEST(0, CAST(floor(yv + 1.772 * (cb - 128) + 0.5) AS INT))) AS b_min,
                LEAST(255, GREATEST(0, CAST(floor(yv + 1.772 * (cb - 128) + 0.5) AS INT))) AS b_max
         FROM cg""",

    // the 2x2 box average replayed in integer arithmetic per output
    // cell; zero-area outputs (1-pixel axes) emit explicit zero-sum
    // rows on BOTH engines via the LEFT JOIN + COALESCE
    "mm_resize_box" ->
      """WITH dims AS (
           SELECT doc_id, 1 + n_chars % 13 AS w, 1 + doc_id % 11 AS h,
                  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS nch
           FROM documents),
         cells AS (
           SELECT m.doc_id, ch.c, ox.i AS ox, oy.i AS oy,
                  (  (m.doc_id*7 + (2*ox.i)*3   + (2*oy.i)*5   + ch.c*11) % 256
                   + (m.doc_id*7 + (2*ox.i+1)*3 + (2*oy.i)*5   + ch.c*11) % 256
                   + (m.doc_id*7 + (2*ox.i)*3   + (2*oy.i+1)*5 + ch.c*11) % 256
                   + (m.doc_id*7 + (2*ox.i+1)*3 + (2*oy.i+1)*5 + ch.c*11) % 256) // 4 AS val
           FROM dims m,
                UNNEST(generate_series(0, 2)) AS ch(c),
                UNNEST(generate_series(0, 5)) AS ox(i),
                UNNEST(generate_series(0, 4)) AS oy(i)
           WHERE ch.c < m.nch AND ox.i < m.w // 2 AND oy.i < m.h // 2),
         base AS (
           SELECT m.doc_id, ch.c, m.w // 2 AS ow, m.h // 2 AS oh
           FROM dims m, UNNEST(generate_series(0, 2)) AS ch(c)
           WHERE ch.c < m.nch)
         SELECT b.doc_id AS asset_id, CAST(b.c AS INT) AS channel,
                CAST(b.ow AS INT) AS out_w, CAST(b.oh AS INT) AS out_h,
                CAST(COALESCE(SUM(cl.val), 0) AS BIGINT) AS px_sum,
                CAST(COALESCE(SUM(cl.val * (cl.ox + cl.oy * b.ow)), 0) AS BIGINT) AS px_wsum
         FROM base b LEFT JOIN cells cl ON cl.doc_id = b.doc_id AND cl.c = b.c
         GROUP BY 1, 2, 3, 4""",

    // the streaming twin shares the batch oracle verbatim
    "mm_video_mjpeg_streaming" -> mmVideoMjpegSql,

    // the scene-boundary replay: per-frame intensity from the flat-frame
    // formula, lag-delta per asset, frame 0 opens a scene (delta -1)
    "mm_video_scenes" ->
      """SELECT d.doc_id AS asset_id,
                CAST(f.i AS INT) AS frame_idx,
                CAST((d.doc_id * 7 + f.i * 19) % 256 AS INT) AS intensity,
                CAST(CASE WHEN f.i = 0 THEN -1
                     ELSE abs((d.doc_id * 7 + f.i * 19) % 256
                            - (d.doc_id * 7 + (f.i - 1) * 19) % 256) END AS INT) AS delta,
                (f.i = 0 OR abs((d.doc_id * 7 + f.i * 19) % 256
                              - (d.doc_id * 7 + (f.i - 1) * 19) % 256) > 32) AS is_scene
         FROM documents d,
              UNNEST(generate_series(0, 4)) AS f(i)
         WHERE f.i <= d.doc_id % 5""",

    // the MJPEG fixture's per-frame formula replayed over the SAMPLED
    // indices (0, 2, 4): the Spark side must walk the RIFF/AVI tree,
    // keep frame order, and fully JPEG-decode each sampled frame;
    // n_frames pins the avih header field independently of the payload
    "mm_video_mjpeg" -> mmVideoMjpegSql,

    "pp_ingest_media" -> mediaIngestGateSql,

    // the tf.Example-container ingest arm computes the SAME gate over
    // the same batch/corpus split — only the batch's transport differs
    // (image/encoded BytesList records inside TFRecord shards), and the
    // decode roundtrip is the identity, so the oracle is shared verbatim
    "pp_ingest_tfexample_media" -> mediaIngestGateSql,

    // the dct-gated media ingest converges to this batch statement (the
    // pp_ingest_media argument verbatim, over ph instead of h)
    "pp_ingest_media_dct" ->
      s"""WITH $phashDctCtes,
         corp AS (SELECT DISTINCT phash_hi, phash_lo FROM ph WHERE asset_id % 10 <> 0),
         newa AS (SELECT * FROM ph WHERE asset_id % 10 = 0),
         kept AS (SELECT asset_id, phash_hi, phash_lo,
                         row_number() OVER (PARTITION BY phash_hi, phash_lo
                                            ORDER BY asset_id) AS r
                  FROM newa)
         SELECT k.asset_id, k.phash_hi, k.phash_lo
         FROM kept k
         WHERE k.r = 1 AND NOT EXISTS (
           SELECT 1 FROM corp c
           WHERE c.phash_hi = k.phash_hi AND c.phash_lo = k.phash_lo)""",

    // the full O(n^2) pair scan over canonical hashes — the banded
    // Spark plan must produce EXACTLY this set (pigeonhole guarantee)
    "dd_image_neardup" ->
      s"""WITH $dhashCtes,
         c AS (SELECT MIN(asset_id) AS asset_id, dhash_hi, dhash_lo
               FROM h GROUP BY dhash_hi, dhash_lo)
         SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
                CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
                     + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INT) AS hamming
         FROM c a, c b
         WHERE a.asset_id < b.asset_id
           AND bit_count(xor(a.dhash_hi, b.dhash_hi))
               + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 3""",

    // the dHash replay + per-cluster min — the canonical-survivor rule
    "dd_image_resolve" ->
      s"""WITH $dhashCtes
         SELECT asset_id,
                MIN(asset_id) OVER (PARTITION BY dhash_hi, dhash_lo) AS canonical_id,
                asset_id = MIN(asset_id) OVER (PARTITION BY dhash_hi, dhash_lo) AS keep
         FROM h""",

    // the full integer DCT-pHash replay per asset (cosine table, resize
    // map, separable transform, exact AC median, bit packing)
    "dd_image_phash_dct" ->
      s"""WITH $phashDctCtes
         SELECT asset_id, phash_hi, phash_lo FROM ph""",

    // the full O(n^2) pair scan over canonical pHashes — the banded
    // Spark plan must produce EXACTLY this set (pigeonhole guarantee)
    "dd_image_neardup_dct" ->
      s"""WITH $phashDctCtes,
         pc AS (SELECT MIN(asset_id) AS asset_id, phash_hi, phash_lo
                FROM ph GROUP BY phash_hi, phash_lo)
         SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
                CAST(bit_count(xor(a.phash_hi, b.phash_hi))
                     + bit_count(xor(a.phash_lo, b.phash_lo)) AS INT) AS hamming
         FROM pc a, pc b
         WHERE a.asset_id < b.asset_id
           AND bit_count(xor(a.phash_hi, b.phash_hi))
               + bit_count(xor(a.phash_lo, b.phash_lo)) <= 3""",

    // the dHash arithmetic replayed per asset — grid sampling via the
    // same integer nearest-neighbor map, gradient compare, 32/32 bit
    // packing — plus the exact-hash cluster sizes (real collisions at
    // sf0.01 make n_dup > 1 rows, so the grouping is certified too)
    "dd_image_phash" ->
      s"""WITH $dhashCtes
         SELECT h.asset_id, h.dhash_hi, h.dhash_lo, CAST(c.n AS BIGINT) AS n_dup
         FROM h JOIN (SELECT dhash_hi, dhash_lo, count(*) AS n
                      FROM h GROUP BY 1, 2) c
           USING (dhash_hi, dhash_lo)""",

    // the tone generator's integer-bin formula replayed per frame: the
    // Spark side must recover k by actually FFT-ing the PCM samples of
    // real WAV bytes — a misframed read or wrong twiddle moves argmax
    "mm_audio_fft" -> mmAudioFftSql,
    "mm_audio_mel" -> mmAudioMelSql,
    "mm_audio_mel_streaming" -> mmAudioMelSql,

    // the alias-fold replay: k<16 stays, k>16 folds to 32-k, k=16 is
    // exact silence whose all-zero argmax is deterministically bin 1
    "mm_audio_decimate" ->
      s"""WITH $toneFramesCte
         SELECT afr.doc_id AS asset_id, CAST(afr.frame_idx AS INT) AS frame_idx,
                CAST(32 AS INT) AS frame_len,
                CAST(CASE WHEN afr.k < 16 THEN afr.k
                          WHEN afr.k = 16 THEN 1
                          ELSE 32 - afr.k END AS INT) AS dominant_bin,
                TRUE AS dominant_is_pure,
                afr.k = 16 AS silent
         FROM afr""",

    // the two-tower cross-modal replay: token XXH64 → hashed buckets →
    // LinearScore weight rule per (bucket, dim) slot; fingerprint bits
    // from the SHARED dhashCtes prefix → decorrelated image rule; BIGINT
    // dot product + the same cross-multiplied keep decision
    "mm_text_image_score" ->
      CrossModalOracleSql.textImageScore(dhashCtes, buckets = 1 << 20, dim = 8, thrMilli = 0L),

    // the streaming twin converges to the identical scored table
    // (stateless append) — batch oracle shared verbatim
    "mm_text_image_score_streaming" ->
      CrossModalOracleSql.textImageScore(dhashCtes, buckets = 1 << 20, dim = 8, thrMilli = 0L),

    // the gated-ingest chain converges to the batch statement: gate →
    // gated corpus store anti-join → keep-min per hash
    "pp_ingest_crossmodal" ->
      CrossModalOracleSql.crossModalIngest(dhashCtes, buckets = 1 << 20, dim = 8, thrMilli = 0L),

    // the full integer fingerprint replay per asset
    "mm_audio_fingerprint" ->
      s"""WITH $afpCtes
         SELECT asset_id, afp_hi, afp_lo FROM afp""",

    // the full O(n^2) pair scan over canonical fingerprints — the banded
    // Spark plan must produce EXACTLY this set (pigeonhole guarantee)
    "dd_audio_neardup" ->
      s"""WITH $afpCtes,
         ac AS (SELECT MIN(asset_id) AS asset_id, afp_hi, afp_lo
                FROM afp GROUP BY afp_hi, afp_lo)
         SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
                CAST(bit_count(xor(a.afp_hi, b.afp_hi))
                     + bit_count(xor(a.afp_lo, b.afp_lo)) AS INT) AS hamming
         FROM ac a, ac b
         WHERE a.asset_id < b.asset_id
           AND bit_count(xor(a.afp_hi, b.afp_hi))
               + bit_count(xor(a.afp_lo, b.afp_lo)) <= 3""",

    // the streaming twin shares the batch oracle verbatim
    "mm_audio_fft_streaming" -> mmAudioFftSql,

    // the PNG generator's pixel formulas replayed per channel: the
    // Spark side must recover exactly these pixels by CRC-checking,
    // inflating, and unfiltering real PNG bytes (all five filter tags
    // appear across scanlines); the position-weighted sum px*(x + y*w)
    // pins every pixel to its coordinate, not just the value multiset
    "mm_decode_png" -> mmDecodePngSql,

    // the streaming twin shares the batch oracle verbatim (same fixture
    // formulas, same decode pipeline, real engine)
    "mm_decode_png_streaming" -> mmDecodePngSql,

    // the 4:2:0 generator's formulas replayed over each component's OWN
    // grid: luma (comp 0) spans a (2*mcusX) x 4 grid, chroma mcusX x 2 —
    // the Spark side must place every entropy-decoded block at the right
    // slot of the right grid through the interleaved MCU walk
    "mm_jpeg_420" ->
      """SELECT d.doc_id AS asset_id,
                CAST(c.i AS INT) AS comp,
                CAST(gx.i AS INT) AS block_x,
                CAST(gy.i AS INT) AS block_y,
                CAST((d.doc_id * 7 + c.i * 13 + gx.i * 5 + gy.i * 3) % 129 - 64 AS INT) AS dc,
                CAST(1 AS INT) AS n_ac,
                CAST((1 + (d.doc_id + gy.i) % 6) *
                     (CASE WHEN (d.doc_id + c.i) % 2 = 0 THEN 1 ELSE -1 END) AS INT) AS ac_sum,
                CAST(1 + (d.doc_id + c.i + gx.i) % 12 AS INT) AS ac_pos_sum
         FROM documents d,
              UNNEST(generate_series(0, 2)) AS c(i),
              UNNEST(generate_series(0, 3)) AS gx(i),
              UNNEST(generate_series(0, 3)) AS gy(i)
         WHERE gx.i < (CASE WHEN c.i = 0 THEN 2 ELSE 1 END) * (1 + d.doc_id % 2)
           AND gy.i < (CASE WHEN c.i = 0 THEN 4 ELSE 2 END)""",

    // per-(component, block) coefficient stats of the 3-component AC
    // fixture: dc after prediction, nonzero-AC count/sum, and the sum of
    // their zigzag positions (1-10 + 30-49 + 63 by construction)
    "mm_jpeg_coefs" ->
      """SELECT d.doc_id AS asset_id,
                CAST(c.i AS INT) AS comp,
                CAST(gx.i AS INT) AS block_x,
                CAST(gy.i AS INT) AS block_y,
                CAST((d.doc_id * 5 + c.i * 17 + gx.i * 7 + gy.i * 11) % 201 - 100 AS INT) AS dc,
                CAST(3 AS INT) AS n_ac,
                CAST((1 + (d.doc_id + c.i) % 9) * (CASE WHEN (d.doc_id + gx.i) % 2 = 0 THEN 1 ELSE -1 END)
                     - (1 + (gy.i + c.i) % 5)
                     + (1 + c.i % 3) AS INT) AS ac_sum,
                CAST((1 + (d.doc_id + c.i) % 10)
                     + (30 + (d.doc_id + gx.i + c.i) % 20)
                     + 63 AS INT) AS ac_pos_sum
         FROM documents d,
              UNNEST(generate_series(0, 2)) AS c(i),
              UNNEST(generate_series(0, 1)) AS gx(i),
              UNNEST(generate_series(0, 1)) AS gy(i)
         WHERE gx.i <= d.n_chars % 2 AND gy.i <= d.doc_id % 2""")
}
