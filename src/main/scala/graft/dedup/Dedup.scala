package graft.dedup

import graft.functions.{CdcChunks, GramHashes, InterSizeSorted, MinHashSig, MinHashSigSize, ShingleHashes, SimHashSig, TextFunctions}
import graft.graph.RoundLoop
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Document deduplication for training-data pipelines, designed for the
  * 100 TB shape: every variant is a hash-partitioned groupBy/join on a
  * derived key (content hash, LSH band hash, SimHash chunk) — never an
  * all-pairs crossJoin, never a driver-side index. Candidate verification
  * happens inside the bucket join, so work is proportional to bucket
  * sizes, not N².
  */
object Dedup {

  // ---- hot-bucket guard ----------------------------------------------------

  private val capSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Hot-bucket guard shared by every blocked pair generator: drop the
    * groups of `df` whose row count over `keys` exceeds `maxBucket`.
    * Implemented as a WINDOW count over the keys, not a size aggregation
    * + semi-join: the window's single hash exchange on the keys is
    * exactly the partitioning the downstream bucket self-join needs, so
    * the guard adds zero extra shuffles (measured: editDistancePairs
    * 2.9 s → 1.0 s at sf0.1). A mega-bucket lands on one task, but the
    * per-group work is LINEAR (count + filter, spilling buffer) — the
    * quadratic pairing it guards against never materializes.
    *
    * The guard defaults ON across the library, which silently changes
    * results for oversized true clusters — so the loss is made
    * OBSERVABLE for free: the plan carries an `observe` node named
    * `graft.<op>.cap.<n>` with metrics `dropped_rows` (member rows of
    * dropped groups), `dropped_buckets` (the groups themselves — summed
    * as 1/size per member row, exact up to FP rounding) and
    * `max_bucket` (largest group seen). Read them with a
    * `QueryExecutionListener` or `SparkListenerSQLExecutionEnd` —
    * nonzero `dropped_buckets` means recall the cap traded away, and
    * `max_bucket` says what cap would have kept everything. Names are
    * sequence-suffixed so composed queries never collide.
    */
  def capBuckets(df: DataFrame, keys: Seq[String], maxBucket: Int,
                 opName: String): DataFrame = {
    if (maxBucket <= 0) df
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
      df.withColumn("_bsz", count(lit(1)).over(w))
        .observe(s"graft.$opName.cap.${capSeq.incrementAndGet()}",
          sum(when(col("_bsz") > maxBucket, lit(1L)).otherwise(lit(0L))).as("dropped_rows"),
          round(sum(when(col("_bsz") > maxBucket, lit(1.0) / col("_bsz"))
            .otherwise(lit(0.0)))).cast("long").as("dropped_buckets"),
          max(col("_bsz")).as("max_bucket"))
        .where(col("_bsz") <= maxBucket)
        .drop("_bsz")
    }
  }

  // ---- exact --------------------------------------------------------------

  /** Exact dedup: group on md5 of the raw content, keep the smallest id
    * (deterministic canonical representative). One shuffle on the hash;
    * map-side partial min. Compose with [[graft.functions.TextFunctions.normalized]]
    * upstream for whitespace/case-insensitive dedup.
    */
  def exact(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(md5(col(text)).as("content_md5"), col(id))
      .groupBy("content_md5")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental ingestion dedup: from a new batch, keep one canonical row
    * per content (smallest id) and drop anything whose content already
    * exists in the corpus — the daily-ingest shape where yesterday's
    * corpus never rewrites.
    *
    * Scale shape: both sides reduce to 16-byte content hashes BEFORE any
    * join (batch: groupBy keep-min; corpus: distinct — each one
    * map-side-combined shuffle on the hash), then a hash anti-join. The
    * corpus is never re-read per batch row, and when the batch is small
    * AQE broadcasts it against the corpus-hash side.
    */
  def incremental(newDocs: DataFrame, corpus: DataFrame, id: String, text: String): DataFrame = {
    val corpusHashes = corpus.select(md5(col(text)).as("content_md5")).distinct()
    newDocs.select(md5(col(text)).as("content_md5"), col(id))
      .groupBy("content_md5").agg(min(col(id)).as("keep_id"))
      .join(corpusHashes, Seq("content_md5"), "left_anti")
  }

  /** Corpus snapshot diff — the "what changed since yesterday's build"
    * report a versioned-dataset pipeline runs before deciding what to
    * re-process: per id, `added` (only in the new snapshot), `removed`
    * (only in the old), `changed` (present in both with different
    * content). Unchanged rows are omitted — at 100 TB the diff is the
    * small output, the snapshots are the big inputs.
    *
    * Scale shape: both sides reduce to (id, 16-byte content hash)
    * BEFORE the join — same ethos as [[incremental]]: the full-outer
    * join moves 24-byte rows, never text. One map-side-combined shuffle
    * per side on id; the join itself reuses that hash partitioning.
    * Contract: `id` is a key within each snapshot (a duplicate id would
    * fan out through the full-outer join) — run [[exact]] first if the
    * snapshot is not keyed. The contract is CERTIFIED, not assumed
    * (ADVICE r10): each side carries a per-id count window that rides
    * the hash exchange the full-outer join needs anyway, and a
    * duplicate id fails the job loudly via `assert_true` instead of
    * producing silently inflated delta rows.
    */
  def snapshotDelta(oldDocs: DataFrame, newDocs: DataFrame, id: String,
                    text: String): DataFrame = {
    // presence is carried by explicit marker columns, NOT hash nullness:
    // a present row with NULL text has a NULL md5, which would otherwise
    // misread as "absent" (added/removed instead of changed/unchanged);
    // content comparison is null-safe for the same reason
    def keyed(df: DataFrame, side: String, h: String, p: String) = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("_id")
      // NULL ids bypass the guard: the full-outer join never matches
      // null keys, so null-id rows cannot fan out (each surfaces as its
      // own added/removed row) — only real duplicate KEYS abort
      df.select(col(id).as("_id"), md5(col(text)).as(h), lit(true).as(p))
        .withColumn("_k",
          when(col("_id").isNull, lit(1L)).otherwise(count(lit(1)).over(w)))
        .where(assert_true(col("_k") === 1,
          lit(s"snapshotDelta: duplicate id in the $side snapshot — " +
            "the id must be a key; run exact() first")).isNull)
        .drop("_k")
    }
    val o = keyed(oldDocs, "old", "_oh", "_op")
    val n = keyed(newDocs, "new", "_nh", "_np")
    o.join(n, Seq("_id"), "full_outer")
      .select(col("_id").as(id),
        when(col("_op").isNull, lit("added"))
          .when(col("_np").isNull, lit("removed"))
          .when(!(col("_oh") <=> col("_nh")), lit("changed"))
          .as("status"))
      .where(col("status").isNotNull)
  }

  // ---- MinHash + LSH ------------------------------------------------------

  /** Permutation coefficients h_i(x) = a_i*x + b_i (wrapping 64-bit; odd
    * a_i → bijection mod 2^64). Shared by the [[graft.functions.MinHashSig]]
    * kernel and the DuckDB oracle replay
    * ([[graft.queries.MinHashOracleSql]]) so their signatures agree.
    */
  def minhashCoeffs(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** MinHash signatures, one (doc, sig) row per document with at least
    * one token: `numHashes` minima of the permuted shingle hashes.
    *
    * The signature is a pure per-document function, so the per-row
    * [[graft.functions.MinHashSig]] kernel computes it in the scan — one
    * pass over the document bytes, zero shuffles, zero aggregation
    * buffers (an explode + groupBy form pays a hash exchange of every
    * shingle-bearing row). The kernel returns a 0/1-element array and the
    * explode drops token-free docs, without a filter Catalyst would
    * re-evaluate below the projection. A per-row higher-order fold is NOT
    * an option: 64 `aggregate()` lambdas blow past codegen limits and drop
    * to interpreted eval (~30x slower, measured at sf0.01).
    */
  def minhashSigs(docs: DataFrame, id: String, text: String,
                  numHashes: Int = 64, shingleK: Int = 3): DataFrame =
    docs.select(col(id).as("doc"),
      explode(column(MinHashSig(expression(col(text)), shingleK, numHashes))).as("sig"))

  /** LSH banding: split the signature into `bands` bands of
    * `numHashes/bands` rows, hash each band. Output: one row per (doc,
    * band) with a `band_key` to bucket-join on. Two docs sharing any band
    * key are candidates; with 16 bands × 4 rows, P(candidate) ≈
    * 1-(1-j^4)^16 — steep around j ≈ 0.7.
    */
  def lshBands(docs: DataFrame, id: String, text: String,
               numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3): DataFrame =
    bandsOfSigs(minhashSigs(docs, id, text, numHashes, shingleK), numHashes, bands)

  /** Banding over a precomputed (doc, sig) frame. Emits ONLY
    * (doc, band, band_hash) — the 64-long signature stays out of the
    * exploded rows so the candidate self-join shuffles 24 bytes per
    * (doc, band), not the whole signature (16x lighter at any scale).
    */
  private def bandsOfSigs(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sigs.select(col("doc"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          xxhash64(b, concat_ws(",", transform(slice(col("sig"), b * rows + 1, lit(rows)), _.cast("string")))).as("h"))))
        .as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.h").as("band_hash"))
  }

  /** Candidate pairs from shared LSH buckets, verified with the signature-
    * estimated Jaccard (fraction of agreeing minhash positions) ≥
    * `threshold`. Self-join shuffles on (band, band_hash) — bucket-local
    * work only. Pairs deduped via distinct on (a, b) with a < b.
    *
    * `maxBucket` (default 1000; 0 = explicit opt-out) guards the LSH
    * skew failure mode at corpus
    * scale: a mega-cluster of identical/near-identical documents lands in
    * the SAME bucket of every band, and one task then owns k²/2 candidate
    * pairs (a 100k-copy boilerplate page → 5·10⁹ pairs). Buckets larger
    * than the cap are dropped BEFORE the self-join (a size aggregation +
    * semi-join on the banded frame — no extra corpus pass). The
    * documented tradeoff: pairs WITHIN a dropped mega-bucket are not
    * emitted; byte-identical content is [[exact]] dedup's job upstream,
    * and a true near-dup cluster that large still surfaces through its
    * other, less-degenerate bands when any member differs at all.
    */
  def minhashPairs(docs: DataFrame, id: String, text: String,
                   threshold: Double, numHashes: Int = 64, bands: Int = 16,
                   shingleK: Int = 3, maxBucket: Int = 1000): DataFrame =
    minhashPairsFromSigs(minhashSigs(docs, id, text, numHashes, shingleK),
      threshold, numHashes, bands, maxBucket)

  /** [[minhashPairs]] over an ALREADY-BUILT (doc, sig) frame (r18,
    * VERDICT r17 #6). The signature frame is consumed THREE times in
    * the pair plan (banding + both sides of the candidate-estimate
    * join); when the caller persists it once (the r17 gram-set
    * discipline — dd_lsh_resolve writes it to parquet and reads it
    * back), each consumer is a cheap columnar read and the expensive
    * shingle+minhash aggregation runs exactly once per run instead of
    * once per consumer. Values are identical either way: parquet
    * roundtrips the 64 signature longs exactly.
    */
  def minhashPairsFromSigs(sigs: DataFrame, threshold: Double,
                           numHashes: Int = 64, bands: Int = 16,
                           maxBucket: Int = 1000): DataFrame = {
    val bandedAll = bandsOfSigs(sigs, numHashes, bands)
    val banded = capBuckets(bandedAll, Seq("band", "band_hash"), maxBucket, "minhashPairs")
    val l = banded.select(col("band"), col("band_hash"), col("doc").as("a"))
    val r = banded.select(col("band"), col("band_hash"), col("doc").as("b"))
    // candidate ids first (slim shuffle), signatures re-joined only for
    // the surviving candidate set (orders of magnitude smaller than the
    // banded row count)
    val cand = l.join(r, Seq("band", "band_hash")).where(col("a") < col("b"))
      .select("a", "b").distinct()
    val withSigs = cand
      .join(sigs.select(col("doc").as("a"), col("sig").as("sig_a")), "a")
      .join(sigs.select(col("doc").as("b"), col("sig").as("sig_b")), "b")
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble)
    withSigs.select(col("a"), col("b"), round(est, 4).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Containment-MinHash pair generation (r17, VERDICT r16 #3) — the
    * PRODUCTION candidate path dd_containment's exact-length blocking
    * stood in for. One aggregation pass yields each doc's MinHash
    * signature AND its exact distinct-shingle count (the shingle arrays
    * are already distinct, so `count(*)` over the exploded hashes IS
    * |set|); candidates come from the same banded LSH bucket join as
    * [[minhashPairs]], behind the same default-ON [[capBuckets]] guard.
    * DIRECTIONAL containment is then estimated from the
    * signature-agreement Jaccard via Broder's identity
    * |A∩B| = J/(1+J)·(|A|+|B|):  est_cont_ab = est_inter / |A|.
    * The sketch buys the pruning; the exact [[verifyContainment]] stage
    * downstream keeps the precision.
    *
    * Scale shape: signatures+sizes are ~0.5 KB/doc straight from the
    * scan, the candidate join ships 24-byte band rows, and signatures re-join
    * only for bucket-collided survivors — never an all-pairs product,
    * and the mega-bucket failure mode is capped exactly like
    * [[minhashPairs]] (drops observable via the cap metrics).
    */
  def containmentSketchPairs(docs: DataFrame, id: String, text: String,
                             estThreshold: Double, numHashes: Int = 64,
                             bands: Int = 16, shingleK: Int = 3,
                             maxBucket: Int = 1000): DataFrame = {
    // signature + |set| are per-document functions, so the per-row
    // kernel needs no explode + groupBy exchange (the minhashSigs
    // device); nset is the distinct gram count
    val sigs = docs.select(col(id).as("doc"),
        explode(column(MinHashSigSize(expression(col(text)), shingleK, numHashes))).as("_ss"))
      .select(col("doc"), col("_ss.sig").as("sig"), col("_ss.nset").as("nset"))
    val bandedAll = bandsOfSigs(sigs.select(col("doc"), col("sig")), numHashes, bands)
    val banded = capBuckets(bandedAll, Seq("band", "band_hash"), maxBucket,
      "containmentSketchPairs")
    val l = banded.select(col("band"), col("band_hash"), col("doc").as("a"))
    val r = banded.select(col("band"), col("band_hash"), col("doc").as("b"))
    val cand = l.join(r, Seq("band", "band_hash")).where(col("a") < col("b"))
      .select("a", "b").distinct()
    val withSigs = cand
      .join(sigs.select(col("doc").as("a"), col("sig").as("sig_a"), col("nset").as("na")), "a")
      .join(sigs.select(col("doc").as("b"), col("sig").as("sig_b"), col("nset").as("nb")), "b")
    val est = round(aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble), 4)
    withSigs.withColumn("est_jaccard", est)
      .withColumn("est_cont_ab",
        round(col("est_jaccard") / (col("est_jaccard") + lit(1.0)) *
          (col("na") + col("nb")).cast("double") / col("na").cast("double"), 4))
      .withColumn("est_cont_ba",
        round(col("est_jaccard") / (col("est_jaccard") + lit(1.0)) *
          (col("na") + col("nb")).cast("double") / col("nb").cast("double"), 4))
      .where(greatest(col("est_cont_ab"), col("est_cont_ba")) >= estThreshold)
      .select("a", "b", "est_jaccard", "est_cont_ab", "est_cont_ba")
  }

  /** Cross-corpus MinHash near-dup: which new-batch documents are
    * NEAR-duplicates (signature-estimated Jaccard ≥ threshold) of
    * something already in the corpus — the fuzzy companion of
    * [[incremental]] (which only catches byte-identical content) and the
    * text analog of [[graft.ann.Ann.crossCosinePairs]]. Output:
    * (batch_id, corpus_id, est_jaccard).
    *
    * Scale shape: both sides reduce to banded signatures independently
    * (map-side-combined aggregation each), the candidate join keys on
    * (band, band_hash) with 24-byte rows, and signatures re-join only for
    * survivors. In production the CORPUS side's signatures/bands are
    * computed once at ingest and persisted — each daily batch pays only
    * its own sketching plus the bucket join.
    */
  def crossMinhashPairs(batch: DataFrame, corpus: DataFrame, id: String, text: String,
                        threshold: Double, numHashes: Int = 64, bands: Int = 16,
                        shingleK: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val bs = minhashSigs(batch, id, text, numHashes, shingleK)
    val cs = minhashSigs(corpus, id, text, numHashes, shingleK)
    val bb = bandsOfSigs(bs, numHashes, bands)
      .select(col("band"), col("band_hash"), col("doc").as("batch_id"))
    val cbAll = bandsOfSigs(cs, numHashes, bands)
      .select(col("band"), col("band_hash"), col("doc").as("corpus_id"))
    // same hot-bucket guard as minhashPairs(maxBucket), applied to the
    // CORPUS side only (the big side; a boilerplate mega-cluster there
    // makes every matching batch doc pay the whole cluster in one task).
    // A batch doc whose match sits in a dropped bucket still surfaces
    // through the pair's other, less-degenerate bands.
    val cb = capBuckets(cbAll, Seq("band", "band_hash"), maxBucket, "crossMinhashPairs")
    val cand = bb.join(cb, Seq("band", "band_hash"))
      .select("batch_id", "corpus_id").distinct()
    val withSigs = cand
      .join(bs.select(col("doc").as("batch_id"), col("sig").as("sig_a")), "batch_id")
      .join(cs.select(col("doc").as("corpus_id"), col("sig").as("sig_b")), "corpus_id")
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble)
    withSigs.select(col("batch_id"), col("corpus_id"), round(est, 4).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Group-aware train/val/test split — the leakage guard: a document and
    * its near-duplicates must land in the SAME split, or the eval split
    * silently contains paraphrases of training data. Documents in a
    * duplicate cluster split by their cluster's canonical (min) id;
    * untouched documents split by their own id — both through the same
    * engine-portable md5 bucketing as [[TextFunctions.splitAssign]], so
    * the assignment is stable across runs, engines, and re-ingestion.
    *
    * Scale shape: components over the (already-generated) pair set, one
    * left join onto the corpus, pure-expression assignment — no new
    * shuffle beyond the component propagation.
    */
  def groupAwareSplit(docs: DataFrame, pairs: DataFrame, id: String): DataFrame = {
    val comp = connectedComponents(pairs)
    docs.join(comp, docs(id) === comp("node"), "left")
      .select(col(id),
        TextFunctions.splitAssign(coalesce(col("comp"), col(id))).as("split"))
  }

  // ---- chunk-level (passage) dedup ----------------------------------------

  /** Content-defined chunk-level exact dedup — the passage/boilerplate
    * removal pass a training pipeline runs alongside document-level
    * dedup (CCNet-style): a passage repeated across documents is kept at
    * its FIRST occurrence and dropped everywhere else, even when the
    * surrounding documents are otherwise distinct.
    *
    * Boundaries are CONTENT-DEFINED: a split lands after every position
    * whose trailing `windowBytes`-char rolling hash ≡ 0 (mod `divisor`),
    * so expected chunk length ≈ divisor chars and — unlike fixed-stride
    * chunking — an edit relocates only boundaries whose window covers
    * it; identical passages chunk identically wherever they appear.
    * The window hash folds (31·h + codepoint) mod 2^48 (stays in signed
    * 64-bit range pre-mod, so plain integer arithmetic replays it in any
    * engine — no wrapping-multiply needed; both engines index by
    * CHARACTER, so the rule is consistent beyond ASCII too).
    *
    * Output: (id, chunk_idx, chunk, keep) — one row per non-empty chunk;
    * `keep` marks the corpus-wide canonical instance (smallest
    * (id, chunk_idx) for that content). Documents shorter than the
    * window are a single chunk.
    *
    * Scale shape: chunking is ONE scan — the native `cdc_chunks` kernel
    * ([[graft.functions.CdcChunks]]) does the O(n·windowChars) hash work
    * as a compiled loop inside whole-stage codegen (the same rule from
    * higher-order functions evaluates interpreted — ~3 orders of
    * magnitude slower on the scan); the keeper is ONE hash
    * exchange partitioned by the chunk content with an in-partition sort
    * (row_number) — per-group work is linear in the duplicate count, so
    * a mega-duplicated boilerplate chunk costs its instance count, never
    * a quadratic pairing.
    */
  def chunkDedup(docs: DataFrame, id: String, text: String,
                 windowChars: Int = 8, divisor: Int = 32): DataFrame = {
    require(windowChars >= 1 && divisor >= 2, "windowChars >= 1, divisor >= 2")
    val chunks = column(CdcChunks(expression(col(text)), windowChars, divisor))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk").orderBy(col(id), col("chunk_idx"))
    docs.select(col(id), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .where(length(col("chunk")) > 0)
      .select(col(id), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk"))
      .withColumn("keep", row_number().over(w) === 1)
  }

  // ---- cross-document duplicated-span statistics --------------------------

  /** Per-document duplicated-span fraction: for each document, the share
    * of its distinct word `k`-grams that also occur in at least one OTHER
    * document — the exact-substring duplication signal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better") at
    * k-gram granularity. Where [[chunkDedup]] removes repeated passages
    * at content-defined boundaries, this measures span-level overlap at
    * EVERY token position, so it catches repeated spans whose chunk
    * boundaries differ; downstream, `dup_frac >= x` is the standard
    * drop/reweight gate for boilerplate-dominated documents.
    *
    * Output: (id, n_grams, n_dup, dup_frac) for EVERY input row —
    * `n_grams` distinct k-gram hashes in the doc (docs shorter than k
    * tokens fall back to token hashes, matching the shingle kernel),
    * `n_dup` of them shared with another doc, `dup_frac` their ratio
    * (0.0 for token-less docs). Intra-document repetition deliberately
    * does NOT count ([[graft.functions.RepetitionStats]] owns that
    * signal): gram sets are per-doc distinct before counting.
    *
    * Scale shape: one shingle scan (the single-pass `shingle_hashes`
    * kernel) + explode; the corpus frequency of each gram
    * is a WINDOW count riding the exploded rows' one hash exchange on the
    * gram (the same device as [[capBuckets]] — an aggregate-and-join-back
    * would shingle the corpus twice, because column pruning specializes
    * the two subtrees out of ReuseExchange eligibility); then one
    * count-style aggregate per doc. Everything is group-by on an 8-byte
    * key — linear end to end, no self-join, so no bucket cap is needed:
    * a 100k-copy boilerplate span costs its instance count, never a
    * quadratic pairing.
    */
  def spanStats(docs: DataFrame, id: String, text: String, k: Int = 8): DataFrame = {
    require(k >= 1, s"gram size must be >= 1, got $k")
    val grams = docs.select(col(id).as("_sp_id"),
      explode(gramSet(text, k)).as("gram"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    val perDoc = grams.withColumn("n_docs", count(lit(1)).over(w))
      .groupBy("_sp_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup"))
    docs.select(col(id))
      .join(perDoc, col(id) === col("_sp_id"), "left")
      .select(col(id),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac", when(col("n_grams") === 0, lit(0.0))
        .otherwise(round(col("n_dup").cast("double") / col("n_grams"), 4)))
  }

  /** Cross-document duplicated-span REMOVAL — the full exact-substring
    * dedup of Lee et al. 2022 at word-`k`-gram granularity: every span
    * duplicated across documents survives only in the document with the
    * SMALLEST id; every other document loses exactly the tokens covered
    * by a cross-document-duplicated gram, and its text is rebuilt from
    * the kept tokens. Where [[spanStats]] measures and gates whole
    * documents, this SALVAGES them: a good document wrapped in shared
    * boilerplate keeps its unique content.
    *
    * Output: (id, n_tokens, n_removed, text_kept) for EVERY input row.
    * `text_kept` is TOKEN-NORMALIZED (lowercased word tokens re-joined
    * with single spaces — the same canonical form every downstream dedup
    * and scoring stage tokenizes back to); docs shorter than k tokens
    * pass through untouched (token-normalized), token-less docs emit
    * (0, 0, ""). Intra-document repetition is never removed (the
    * canonical document keeps ALL its copies; [[graft.functions.RepetitionStats]]
    * flags those).
    *
    * Scale shape: one scan builds tokens + per-position gram hashes (the
    * single-pass `gram_hashes` kernel) and explodes to
    * one row per token; the cross-document test and canonical-document
    * choice are window min/max over the gram value — ONE hash exchange on
    * the gram (positions past the last gram start carry a per-row unique
    * null-discriminator key, so they can never cluster into a skewed
    * partition or distort another gram's min/max); token coverage is a
    * trailing `RANGE k-1 PRECEDING` window and the text rebuild a
    * groupBy, both riding ONE exchange on the doc id (ClusteredDistribution
    * reuse, as in sessionCountGaps). No self-join anywhere: a 100k-copy
    * boilerplate span costs its instance count, never a pairing.
    *
    * `minSpanTokens` is Lee et al.'s span-length threshold (they use 50):
    * only MAXIMAL runs of duplicated grams spanning at least that many
    * tokens are removed — an incidental shared 8-gram (a common phrase)
    * survives; only genuinely duplicated passages go. A run of r
    * consecutive duplicated gram starts covers r + k - 1 tokens, so the
    * gate is r >= minSpanTokens - k + 1, computed by a gaps-and-islands
    * pass (cumulative-count group id + per-run count) that rides the SAME
    * doc exchange as the coverage window — the threshold adds sorts, not
    * shuffles. The default `minSpanTokens = k` keeps every duplicated
    * gram (threshold inert).
    */
  def spanRemove(docs: DataFrame, id: String, text: String, k: Int = 8,
                 minSpanTokens: Int = 0): DataFrame = {
    require(k >= 2, s"gram size must be >= 2, got $k")
    val rows = tokenGramRows(docs, id, text, k)
      // null-gram rows (positions with no gram start) get a unique
      // two-column discriminator so the gram window never groups them
      .withColumn("_d1", when(col("gram").isNull, col("_sr_id")).otherwise(lit(0L)))
      .withColumn("_d2", when(col("gram").isNull, col("pos")).otherwise(lit(0)))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("gram", "_d1", "_d2")
    val flagged = rows
      .withColumn("_mn", min(col("_sr_id")).over(wg))
      .withColumn("_mx", max(col("_sr_id")).over(wg))
      .withColumn("_rm",
        when(col("gram").isNotNull && col("_mn") =!= col("_mx") && col("_sr_id") =!= col("_mn"), 1)
          .otherwise(0))
    spanSurgery(flagged, docs, id, k, math.max(minSpanTokens, k))
  }

  /** Surgical benchmark decontamination — [[spanRemove]]'s span surgery
    * with the removal test swapped from "duplicated across the corpus"
    * to "present in the EVAL SET": every corpus span whose `k`-gram
    * occurs anywhere in `evalSet` is removed (no canonical keeper — the
    * benchmark is the canary, every corpus occurrence goes), and the
    * corpus text is rebuilt from the kept tokens. Where
    * [[contaminatedIds]] drops whole contaminated documents, this
    * SALVAGES them: a good document quoting one benchmark passage keeps
    * everything else — the Lee-et-al-style surgical alternative when
    * dropping would cost too much good text. Output: (id, n_tokens,
    * n_removed, text_kept) for every corpus row, token-normalized like
    * [[spanRemove]].
    *
    * Scale shape: the eval side reduces to DISTINCT gram hashes —
    * benchmark-sized (thousands of docs), so the membership join
    * AQE-broadcasts and the corpus NEVER shuffles on the gram; the only
    * corpus exchange is the shared doc-id hash the gate/coverage
    * windows and the rebuild groupBy ride (the [[spanRemove]] device).
    * `minSpanTokens` gates incidental shared phrases exactly as in
    * [[spanRemove]].
    */
  def decontamSpans(corpus: DataFrame, evalSet: DataFrame, id: String, text: String,
                    k: Int = 8, minSpanTokens: Int = 0): DataFrame = {
    require(k >= 2, s"gram size must be >= 2, got $k")
    val evalGrams = evalSet
      .select(explode(gramHashArr(text, k)).as("gram")).distinct()
      .withColumn("_hit", lit(true))
    // left join on the gram: null grams (positions past the last gram
    // start) never equi-match, so they flag 0 with no discriminator
    val flagged = tokenGramRows(corpus, id, text, k)
      .join(evalGrams, Seq("gram"), "left")
      .withColumn("_rm", when(col("_hit").isNotNull, 1).otherwise(0))
    spanSurgery(flagged, corpus, id, k, math.max(minSpanTokens, k))
  }

  /** The positional gram-hash array ([[graft.functions.GramHashes]]: one
    * k-gram hash per gram start, no distinct, empty under k tokens) — ONE
    * definition so the corpus and eval sides of [[decontamSpans]] can
    * never disagree on which hash they computed.
    */
  private def gramHashArr(text: String, k: Int): Column =
    column(GramHashes(expression(col(text)), k))

  /** (shared by [[spanRemove]] / [[decontamSpans]]) one row per corpus
    * token: (_sr_id, pos, tok, gram) with gram null at positions past
    * the last gram start — a single text scan.
    */
  private def tokenGramRows(docs: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val tokArr = TextFunctions.tokens(col(text))
    val gramArr = gramHashArr(text, k)
    // pad the gram array to token length with nulls so ONE zip + explode
    // yields (pos, tok, gram-starting-here?) without carrying whole
    // arrays into every exploded row
    val base = docs.select(col(id).as("_sr_id"), tokArr.as("_toks"), gramArr.as("_grams"))
      .select(col("_sr_id"), arrays_zip(
        col("_toks").as("tok"),
        concat(col("_grams"),
          array_repeat(lit(null).cast("long"), size(col("_toks")) - size(col("_grams"))))
          .as("gram")).as("_z"))
    // posexplode_OUTER, then drop the one null row an empty array emits:
    // a plain posexplode lets InferFiltersFromGenerate clone the whole
    // tokenize+gram_hashes+zip expression into a non-codegen Filter below
    // the Generate (the scan work evaluated ~3x per doc — measured in the
    // EXPLAIN); the outer form infers nothing and the null rows cost one
    // cheap IsNotNull after the Generate
    base.select(col("_sr_id"), posexplode_outer(col("_z")).as(Seq("pos", "z")))
      .where(col("pos").isNotNull)
      .select(col("_sr_id"), col("pos"), col("z.tok").as("tok"), col("z.gram").as("gram"))
  }

  /** (shared tail of [[spanRemove]] / [[decontamSpans]]) span-length
    * gate + trailing coverage window + ordered text rebuild over token
    * rows carrying `_rm` (1 = the gram starting here is removable).
    */
  private def spanSurgery(flagged: DataFrame, docs: DataFrame, id: String,
                          k: Int, minSpan: Int): DataFrame = {
    // span-length gate: group consecutive duplicated gram starts
    // (gaps-and-islands: pos minus the running rm count is constant
    // within a run) and keep only runs covering >= minSpan tokens.
    // All three windows partition by (at least) _sr_id, so one hash
    // exchange serves them; the extra passes are per-partition sorts.
    val minRun = minSpan - k + 1
    val thresholded =
      if (minRun <= 1) flagged.withColumn("_rmEff", col("_rm"))
      else {
        val wcum = org.apache.spark.sql.expressions.Window.partitionBy("_sr_id").orderBy("pos")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val wrun = org.apache.spark.sql.expressions.Window.partitionBy(col("_sr_id"), col("_grp"))
        flagged
          .withColumn("_grp", col("pos") - sum(col("_rm")).over(wcum))
          .withColumn("_runLen", sum(col("_rm")).over(wrun))
          .withColumn("_rmEff",
            when(col("_rm") === 1 && col("_runLen") >= minRun, 1).otherwise(0))
      }
    val wcov = org.apache.spark.sql.expressions.Window.partitionBy("_sr_id").orderBy("pos")
      .rangeBetween(-(k - 1), 0)
    val covered = thresholded.withColumn("_cov", max(col("_rmEff")).over(wcov) === 1)
    val perDoc = covered.groupBy("_sr_id").agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("_cov"), 1L).otherwise(0L)).as("n_removed"),
      array_join(transform(
        array_sort(collect_list(when(!col("_cov"), struct(col("pos"), col("tok"))))),
        s => s.getField("tok")), " ").as("text_kept"))
    docs.select(col(id))
      .join(perDoc, col(id) === col("_sr_id"), "left")
      .select(col(id),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  // ---- corpus-frequent line (boilerplate) removal --------------------------

  /** CCNet/RefinedWeb-style boilerplate removal: segment each document
    * into positional `lineWords`-token pseudo-lines (the synthetic corpus
    * has no physical line breaks; on real data segment on newline
    * upstream and pass `lineWords` large), count each line's document
    * frequency across the corpus, and strip lines seen in at least
    * `maxDfFrac` of documents — navigation chrome, cookie banners and
    * license headers repeat near-verbatim across pages while body text
    * does not. The threshold denominator is ALL keyed documents (so the
    * count never needs a tokenize pass); documents with no tokens carry
    * no lines and drop out of the OUTPUT,
    * like the other tokenized-corpus operators. Returns one row per doc:
    * (id, n_lines, n_removed, text_clean) with lines rejoined in
    * original order.
    *
    * Scale shape (100 TB): one tokenize scan → explode to lines; the df
    * table is ONE hash aggregation on the line text (two-phase distinct
    * count, map-side partial); the boilerplate set is the head of the
    * line-frequency distribution above df ≥ maxDfFrac·N — small by
    * construction, so AQE broadcasts the flag join without a forced
    * hint (the tfidf/unigram-LM precedent); reassembly is one groupBy
    * on the doc id with an `array_sort` over (idx, line) structs, so
    * output is layout-invariant regardless of collect_list order. Every
    * stage is linear in corpus tokens — no pair joins anywhere.
    */
  def boilerplateRemove(docs: DataFrame, id: String, text: String,
                        lineWords: Int = 2, maxDfFrac: Double = 0.05): DataFrame = {
    require(lineWords > 0, "boilerplateRemove: lineWords must be positive")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      "boilerplateRemove: maxDfFrac must be in (0, 1]")
    val base = docs.where(col(id).isNotNull)
      .select(col(id).as("_doc"), TextFunctions.tokens(col(text)).as("_w"))
      .where(size(col("_w")) > 0)
    // threshold denominator = ALL keyed docs, not just tokenized ones:
    // a metadata-only count (no third tokenize pass — parquet answers it
    // from row counts), and "fraction of the corpus" is the CCNet
    // semantics anyway. 1-row scalar broadcast, the sk_cms/pp_mix pattern.
    val nDocs = docs.where(col(id).isNotNull).agg(count(lit(1)).as("_n"))
    val segArr = transform(
      sequence(lit(0), (ceil(size(col("_w")).cast("double") / lineWords) - 1).cast("int")),
      i => array_join(slice(col("_w"), i * lineWords + 1, lit(lineWords)), " "))
    // segs feeds BOTH the line-frequency table and the flag join, and
    // the two consumers' pruned copies differ, so without
    // materialization the tokenize+posexplode scan plans twice (the
    // dsirWeightsTagged lesson). One lazy local checkpoint makes the
    // segment pass once-per-call (r19 optimization, guide §2.4;
    // measured same-JVM A/B at sf0.1: 1.14 → 0.89 s, equal output).
    val segs = base.select(col("_doc"), posexplode(segArr).as(Seq("line_idx", "line")))
      .localCheckpoint(false)
    // df ≥ max(ceil(maxDfFrac·N), 2): a line must repeat across at
    // least two docs to ever count as boilerplate
    val boiler = segs.groupBy("line")
      .agg(countDistinct("_doc").as("df"))
      .crossJoin(nDocs)
      .where(col("df") >= greatest(ceil(col("_n") * maxDfFrac), lit(2L)))
      .select(col("line"), lit(true).as("_rm"))
    val flagged = segs.join(boiler, Seq("line"), "left")
      .select(col("_doc"), col("line_idx"), col("line"),
        coalesce(col("_rm"), lit(false)).as("_rm"))
    flagged.groupBy(col("_doc"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_rm"), lit(1L)).otherwise(lit(0L))).as("n_removed"),
        // removed lines collect as null (no otherwise) and vanish from
        // the list; array_sort on (line_idx, line) restores doc order
        array_join(transform(array_sort(collect_list(
            when(!col("_rm"), struct(col("line_idx"), col("line"))))),
          s => s.getField("line")), " ").as("text_clean"))
      .select(col("_doc").as(id), col("n_lines"), col("n_removed"), col("text_clean"))
  }

  // ---- blocking candidate generation --------------------------------------

  /** Candidate pairs by attribute blocking: a capped self-join on the
    * given block-key columns, emitting (a, b) with a < b — the candidate
    * stage in front of [[verifyJaccard]] when blocking keys (language,
    * length band, source, …) are cheaper than sketching. Block membership
    * grows linearly with corpus size, so UNGUARDED blocking pairs grow
    * quadratically — the same hot-bucket failure mode as LSH mega-buckets.
    * [[capBuckets]]'s window count rides the self-join's own hash exchange
    * on the block keys (zero extra shuffles, observable `dropped_buckets`
    * metrics), and blocks larger than `maxBucket` are dropped whole:
    * pairs that coarse can't be verified in bucket-quadratic time anyway —
    * tighten the blocking key or switch to [[minhashPairs]] at that
    * density.
    */
  def blockedPairs(docs: DataFrame, id: String, blocks: Seq[(String, Column)],
                   maxBucket: Int = 1000): DataFrame = {
    val keys = blocks.map(_._1)
    val keyed = docs.select(blocks.map { case (n, c) => c.as(n) } :+ col(id).as("_bp_id"): _*)
    val capped = capBuckets(keyed, keys, maxBucket, "blockedPairs")
    // both sides alias the same capped plan → the two hash exchanges on
    // the block keys canonicalize identically and ReuseExchange
    // materializes the (scan + window-cap) pass once
    capped.as("bl").join(capped.as("br"), keys)
      .where(col("bl._bp_id") < col("br._bp_id"))
      .select(col("bl._bp_id").as("a"), col("br._bp_id").as("b"))
  }

  /** Cross-corpus candidate pairs by attribute blocking — the
    * batch-vs-standing-corpus twin of [[blockedPairs]] (r15: the inline
    * `batch.join(corpus, blockKeys)` form in the ingest paths carried no
    * guard; this closes the last unguarded blocking-join class). Each
    * side's oversized blocks are dropped by [[capBuckets]] independently
    * (two window counts, each riding the hash exchange its join side
    * needs anyway), so a hot block's pair fan-out is bounded by
    * maxBucket² instead of |left block| × |right block| — linear-in-
    * corpus block membership would otherwise grow the pair stage
    * quadratically. Emits (a, b) = (left id, right id); drops are
    * observable via the `graft.crossBlockedPairs.cap.*` metrics.
    */
  def crossBlockedPairs(left: DataFrame, right: DataFrame, id: String,
                        blocks: Seq[(String, Column)],
                        maxBucket: Int = 1000): DataFrame = {
    val keys = blocks.map(_._1)
    def keyed(df: DataFrame, as: String) =
      capBuckets(df.select(blocks.map { case (n, c) => c.as(n) } :+ col(id).as(as): _*),
        keys, maxBucket, "crossBlockedPairs")
    keyed(left, "a").join(keyed(right, "b"), keys).select("a", "b")
  }

  /** One side of [[crossBlockedPairs]], keyed and capped, as a standalone
    * frame (r18, guide §2.4): a standing CORPUS's capped block frame is a
    * pure function of the corpus, so a per-micro-batch ingest gate
    * computes it ONCE per run and persists it — each trigger then pays
    * only its own (small) batch side's cap window instead of re-running
    * the corpus-wide window + exchange. `as` names the id column ("b"
    * for the right side of [[crossBlockedPairsAgainst]]).
    */
  def cappedBlockSide(df: DataFrame, id: String, blocks: Seq[(String, Column)],
                      as: String, maxBucket: Int = 1000): DataFrame =
    capBuckets(df.select(blocks.map { case (n, c) => c.as(n) } :+ col(id).as(as): _*),
      blocks.map(_._1), maxBucket, "crossBlockedPairs")

  /** [[crossBlockedPairs]] against an ALREADY-CAPPED right side (a
    * [[cappedBlockSide]] frame, typically read back from a per-run
    * store). The left side gets the same default-ON guard; the join and
    * its semantics are identical to [[crossBlockedPairs]] — only where
    * the right side's window runs changes.
    */
  def crossBlockedPairsAgainst(left: DataFrame, cappedRight: DataFrame,
                               id: String, blocks: Seq[(String, Column)],
                               maxBucket: Int = 1000): DataFrame =
    cappedBlockSide(left, id, blocks, "a", maxBucket)
      .join(cappedRight, blocks.map(_._1)).select("a", "b")

  // ---- exact Jaccard verification ----------------------------------------

  /** Exact n-gram-set Jaccard for a candidate pair set (columns a, b):
    * joins the gram sets back in and computes |∩|/|∪| — the "verify"
    * stage after LSH candidate generation. `ngram = 1` is token-set
    * Jaccard; `ngram = 3` matches the MinHash shingling granularity.
    *
    * The sets are HASHED grams (the single-pass `shingle_hashes` kernel):
    * |∩| and |∪| over 64-bit gram hashes equal those over the gram
    * strings — xxhash64 collisions would need ~2^32 distinct grams per
    * corpus to matter — while the set arithmetic runs on longs instead
    * of strings.
    *
    * `membersOnly = true` shingles only PAIR MEMBERS: an id-only
    * left-semi prefilter runs before the gram projection, so the
    * corpus-wide shingle pass (paid ONCE — both join sides alias the
    * same sets plan, so ReuseExchange shares the materialized shuffle)
    * shrinks to the candidate members. Flip it ON when `pairs` is
    * MATERIALIZED (a table, a persisted frame): candidates are a small
    * fraction of a corpus and the prefilter ships only ids. Leave it
    * OFF (the default) for a lazy candidate pipeline — the member
    * list references `pairs` twice, so a lazy LSH pipeline would
    * re-execute end-to-end twice more, which costs more than shingling
    * the whole corpus (measured: dd_lsh_resolve 1.98→2.86 s at sf0.1
    * with the prefilter forced on its lazy candidates).
    */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, id: String, text: String,
                    ngram: Int = 1, membersOnly: Boolean = false): DataFrame = {
    val base = docs.select(col(id).as("vid"), col(text))
    val filtered =
      if (!membersOnly) base
      else base.join(
        pairs.select(col("a").as("vid"))
          .unionByName(pairs.select(col("b").as("vid"))).distinct(),
        Seq("vid"), "left_semi")
    verifyJaccardWithSets(pairs,
      filtered.select(col("vid"), gramSet(text, ngram).as("toks")))
  }

  /** The distinct gram-set column [[verifyJaccard]] compares on:
    * `array<bigint>` of hashed word `ngram`-grams (`ngram <= 1` = token
    * hashes), per-doc distinct; docs shorter than `ngram` tokens fall
    * back to their token hashes so they still participate.
    *
    * Hot-path shape: the native [[graft.functions.ShingleHashes]] kernel
    * tokenizes in one byte pass, hashes each token to a long ONCE, and
    * combines `ngram` consecutive token-hash longs with one more xxhash64
    * — never materializing gram strings. (A concat_ws("a b c") →
    * xxhash64(string) form spent ~60% of the whole minhash pipeline
    * building and re-hashing gram strings; combining longs is
    * measurement-equivalent for LSH and ~3x cheaper.)
    */
  def gramSet(text: String, ngram: Int): Column =
    column(ShingleHashes(expression(col(text)), math.max(ngram, 1)))

  /** (vid, toks) gram-set frame for a corpus — the PERSIST-ONCE form the
    * per-micro-batch ingest gate reads back each batch (r17, VERDICT r16
    * #7: the streaming ingest chains re-tokenized the entire corpus once
    * per micro-batch through the inline verify; a persisted set frame
    * makes the tokenize pass once-per-corpus, the production discipline
    * the semantic gate's persisted cluster assignment already follows).
    */
  def gramSets(docs: DataFrame, id: String, text: String, ngram: Int = 1): DataFrame =
    docs.select(col(id).as("vid"), gramSet(text, ngram).as("toks"))

  /** Sorted sets and the matching |A ∩ B| builder for the verify stages.
    * Each document's gram set is compared against MANY candidate
    * partners (~40 per doc at bench SF), so the sets are sorted ONCE per
    * doc in this projection (sort_array) and the
    * [[graft.functions.InterSizeSorted]] kernel merge-counts straight
    * over the arrays with zero per-pair copying or sorting. The kernel
    * undercounts on unsorted input, so it is built only here, behind the
    * sort. Output values are untouched: downstream reads only SIZES of
    * the set arrays, which sorting preserves. A NULL side yields -1
    * through the coalesce (`size`'s legacy -1-on-null, which the verify
    * ratios below rely on).
    *
    * `toks` must be `array<bigint>` ([[gramSet]] / [[gramSets]] output);
    * any other type is rejected here rather than failing deep in
    * analysis.
    */
  private def sortedSetsAndInter(sets: DataFrame): (DataFrame, (Column, Column) => Column) = {
    val toksType = sets.schema("toks").dataType
    val isGramHashes = toksType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    require(isGramHashes, "verify: toks must be array<bigint> gram hashes " +
      s"(Dedup.gramSet / gramSets), got ${toksType.catalogString}")
    (sets.select(col("vid"), sort_array(col("toks")).as("toks")),
      (a, b) => coalesce(column(InterSizeSorted(expression(a), expression(b))), lit(-1)))
  }

  /** The verify stage of [[verifyJaccard]] over an ALREADY-BUILT (vid,
    * toks) set frame. When `sets` is a lazy in-plan frame, both join
    * sides alias the SAME plan so the two hash(vid) exchanges
    * canonicalize identically and ReuseExchange materializes the shingle
    * pass ONCE; when `sets` is a persisted parquet frame, each join side
    * is a cheap columnar read — no tokenize work at all.
    *
    * CONTRACT: `toks` must be per-row DISTINCT (duplicate-free)
    * `array<bigint>` gram hashes — every in-repo producer goes through
    * [[gramSet]]/[[gramSets]], which dedup; another element type is
    * rejected up front. The Jaccard denominator
    * derives |A∪B| as |A| + |B| − |A∩B|, which is exact only on sets; a
    * caller passing duplicate-bearing arrays (e.g. raw `token_hashes`
    * output) silently inflates the denominator and understates Jaccard.
    *
    * r18 (guide §1.2 — per-pair work): |A∪B| is DERIVED as
    * |A| + |B| − |A∩B| (exact: the gram arrays are per-doc distinct
    * sets), so each candidate pair pays ONE intersection count instead
    * of an intersect plus a union — the set traversal is the whole verify
    * cost at 200k blocked candidates per 5k docs (measured: the
    * candidate join alone is 0.27 s of dd_ngram_jaccard's 2.2 s).
    * The intersect size lands in its own projection so CollapseProject
    * cannot inline the non-cheap expression twice.
    */
  def verifyJaccardWithSets(pairs: DataFrame, sets: DataFrame): DataFrame = {
    val (s2, interFn) = sortedSetsAndInter(sets)
    pairs
      .join(s2.as("sa"), col("a") === col("sa.vid"))
      .join(s2.as("sb"), col("b") === col("sb.vid"))
      .withColumn("_inter", interFn(col("sa.toks"), col("sb.toks")))
      .withColumn("jaccard", round(col("_inter").cast("double") /
        // a NULL side yields _inter = -1 (size's legacy -1-on-null);
        // the old size(array_union) was -1 there too, so pin the
        // denominator to -1 and the ratio stays bit-identical
        when(col("_inter") < 0, lit(-1))
          .otherwise(size(col("sa.toks")) + size(col("sb.toks")) - col("_inter"))
          .cast("double"), 4))
      .drop("_inter")
      .drop(col("sa.vid")).drop(col("sa.toks"))
      .drop(col("sb.vid")).drop(col("sb.toks"))
  }

  /** Directional n-gram CONTAINMENT verify (r16) — the asymmetric dedup
    * measure (Broder's containment, the quote/subset-duplication signal
    * Jaccard underweights: a short doc fully quoted inside a long one
    * has tiny Jaccard but containment 1.0 on the short side): for each
    * candidate pair, `cont_ab` = |A∩B| / |A|, `cont_ba` = |A∩B| / |B|,
    * plus the symmetric Jaccard for contrast. Same ReuseExchange shape
    * as [[verifyJaccard]] (one shingle pass serves both join sides).
    */
  def verifyContainment(pairs: DataFrame, docs: DataFrame, id: String,
                        text: String, ngram: Int = 1): DataFrame = {
    // ONE intersection count per pair, in its own projection
    // (CollapseProject cannot inline it into the three consumers);
    // |A∪B| derives as |A| + |B| − |A∩B| — the verifyJaccardWithSets
    // device, exact on the per-doc-distinct gram sets
    val (s2, interFn) = sortedSetsAndInter(gramSets(docs, id, text, ngram))
    pairs
      .join(s2.as("sa"), col("a") === col("sa.vid"))
      .join(s2.as("sb"), col("b") === col("sb.vid"))
      .withColumn("_inter", interFn(col("sa.toks"), col("sb.toks")))
      .withColumn("cont_ab", round(col("_inter").cast("double") /
        size(col("sa.toks")).cast("double"), 4))
      .withColumn("cont_ba", round(col("_inter").cast("double") /
        size(col("sb.toks")).cast("double"), 4))
      .withColumn("jaccard", round(col("_inter").cast("double") /
        // NULL-side pairs: -1/-1, exactly the old array_union form
        when(col("_inter") < 0, lit(-1))
          .otherwise(size(col("sa.toks")) + size(col("sb.toks")) - col("_inter"))
          .cast("double"), 4))
      .drop("_inter")
      .drop(col("sa.vid")).drop(col("sa.toks"))
      .drop(col("sb.vid")).drop(col("sb.toks"))
  }

  // ---- duplicate-cluster resolution ---------------------------------------

  /** Connected components over a candidate-pair set (columns `a`, `b`) —
    * the resolution stage after pair generation: pairs chain into duplicate
    * CLUSTERS (a~b, b~c ⇒ {a,b,c}), and each document maps to its
    * cluster's canonical id (the minimum member id, so `comp` doubles as
    * the keep-id). Output: (node, comp).
    *
    * Algorithm: min-label propagation with path halving. Each round every
    * node takes the minimum label among itself and its neighbors (join +
    * hash aggregation, shuffles on node id), then labels pointer-jump
    * (`comp ← comp(comp)`) so chains collapse exponentially — O(log
    * diameter) rounds instead of O(diameter), the property that makes a
    * 100 TB chain-shaped cluster converge in a handful of rounds. The
    * driver sees only a one-row convergence probe per round, never the
    * data; each round's result is persisted so lineage stays one round
    * deep. `maxIter` bounds the worst case.
    *
    * `saltBuckets` (> 0 to enable) salts the path-halving self-join —
    * the round's skew point: every member of a duplicate cluster carries
    * the SAME `comp` label, so the join group for a mega-cluster's
    * canonical id is the whole cluster on one task. Salting reuses
    * [[graft.operators.Joins.saltedJoin]]'s device: the many-rows side
    * takes a deterministic per-node salt, the unique-per-key side
    * explodes `saltBuckets` ways, and the join keys on (comp, salt) —
    * the cluster spreads over `saltBuckets` tasks at the cost of
    * replicating the referenced slice of the (slim, two-column) label
    * frame — a left-semi prefilter keeps only label rows some comp
    * actually references, which collapses to ~one row per cluster in
    * the late rounds where the skew peaks. Off by default, and the
    * crossover is MEASURED (SCALE.md "salting crossover"): on a
    * planted star cluster — the maximal-skew shape — salting(8) wins
    * 1.15-1.3x from 2²⁰ through 2²⁴ members, growing with cluster
    * size, so it pays from ~10⁶-member clusters up and is a
    * wash-to-small-loss below.
    * Callers on the default CAPPED pair sources never get there (a
    * bucket cap bounds any single bucket's cluster; the mega-cluster
    * SCALE.md rows measure salted==unsalted) — enable it only for
    * uncapped or chained pair sets whose cluster-size histogram
    * ([[graft.operators.Profiling.histogram]]) shows ≥10⁶-member
    * components.
    *
    * `checkpointDir` picks the checkpoint mode. `None` (default) uses
    * `localCheckpoint` — fastest, right for a single-box bench, but local
    * checkpoint blocks die WITH their executor: on a preemptible cluster
    * one lost executor fails the whole job mid-algorithm ("lineage has
    * been truncated and cannot be recomputed"). `Some(dir)` switches
    * every round to a RELIABLE `checkpoint` against that directory
    * (HDFS/object store on a real cluster), which survives executor loss
    * — the production mode. When `None` but the session ALREADY has a
    * checkpoint dir configured (`sc.setCheckpointDir` at app setup), the
    * reliable mode is used automatically — a session that paid for a
    * checkpoint store wants its long iterative jobs loss-proof.
    * Superseded rounds' checkpoint files are deleted eagerly so the
    * footprint stays at ~2 rounds of labels.
    *
    * Side effects of `Some(dir)`: `sc.setCheckpointDir(dir)` is a
    * SparkContext-global mutation that persists after this call and is
    * only applied when no checkpoint dir is configured yet — passing a
    * DIFFERENT dir than the session's existing one throws rather than
    * silently redirecting unrelated jobs' checkpoints. The final
    * round's checkpoint files outlive the call (the returned DataFrame
    * reads them); they are removed with the checkpoint dir's normal
    * lifecycle, not eagerly.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          checkpointDir: Option[String] = None,
                          saltBuckets: Int = 0): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sc = pairs.sparkSession.sparkContext
    val existingDir = sc.getCheckpointDir
    checkpointDir.foreach { d =>
      existingDir match {
        case Some(cur) =>
          // setCheckpointDir stores <dir>/<uuid> fully qualified —
          // compare the qualified parent against the qualified request
          val curParent = new org.apache.hadoop.fs.Path(cur).getParent
          val reqPath = new org.apache.hadoop.fs.Path(d)
          val reqQ = reqPath.getFileSystem(sc.hadoopConfiguration).makeQualified(reqPath)
          if (curParent != reqQ)
            throw new IllegalArgumentException(
              s"connectedComponents(checkpointDir=$d): session already checkpoints under " +
                s"$curParent; refusing to redirect a SparkContext-global setting — " +
                "pass None to reuse it")
        case None => sc.setCheckpointDir(d)
      }
    }
    // `pairs` is referenced twice (the undirected union swaps the
    // columns — two different projections, so ReuseExchange cannot
    // deduplicate them) and is typically the LAZY tail of a whole
    // candidate-generation + verify pipeline: without materialization
    // that pipeline executed end-to-end TWICE just to build the edge
    // list (measured: dd_lsh_resolve's components stage 3.1 s lazy vs
    // 1.2 s over a materialized pair frame at sf0.1). Persist the slim
    // (a, b) projection once — pair sets are the SMALL output of capped
    // candidate generation at any scale — and release it as soon as the
    // edge list itself is materialized below (r18 optimization).
    val p = pairs.select(col("a"), col("b")).persist(MEMORY_AND_DISK)
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(p.select(col("b").as("src"), col("a").as("dst")))
      .distinct().persist(MEMORY_AND_DISK)
    // Checkpoint (not persist) after every round: each round's plan
    // references the previous round's frame multiple times, so WITHOUT
    // lineage truncation the LOGICAL plan grows ~4^rounds and the
    // analyzer OOMs long before the data does (measured: 4.7k edges blew
    // an 8 GB driver at round ~15). Superseded rounds are released
    // explicitly, after the probe job that materializes their successor.
    // LAZY local checkpoints (r18 optimization, guide §1.2): eager
    // materialization cost one scheduled job per checkpoint — 3 jobs per
    // round (stepped, next, convergence probe) of mostly scheduling
    // overhead on small-to-moderate pair sets. Lazy, each round's
    // stepped/next materialize AS PART OF the round's convergence-probe
    // job (1 job per round), computed exactly once (block-level locking
    // serves the self-join's second reference from the cache). A session
    // with a checkpoint dir (reliable mode, see the scaladoc) stays EAGER:
    // an un-persisted RDD.checkpoint() re-runs the computation at
    // materialization, and executor-loss-safety is the mode's point.
    // The loop width is sized to the edge count (see [[RoundLoop]]);
    // the count also forces the edge persist ONCE, before round-1 plans
    // would otherwise race to build it twice.
    val nEdges = edges.count()
    p.unpersist(blocking = false) // edges are materialized; the pair cache is done
    try RoundLoop(pairs.sparkSession, nEdges, eagerLocal = false) { loop =>
    import loop.{checkpoint => ckpt, release}
    var labels = ckpt(edges.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node")))
    var converged = false
    var i = 0
    // previous round's label sum for the monotone convergence probe
    // below; null = "no round measured yet"
    var prevSum: java.math.BigDecimal = null
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("comp").as("nbr_comp")), "dst")
        .groupBy(col("src").as("node")).agg(min("nbr_comp").as("nbr_comp"))
      val stepped = ckpt(labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp")))
      // path halving: jump each label to its label's label (comp is always
      // itself a node id, and labels only decrease, so this preserves
      // reachability while halving chain lengths). With saltBuckets > 0
      // the self-join spreads each comp's join group over saltBuckets
      // tasks (see scaladoc) — identical result, skew-proof shuffle.
      val halved =
        if (saltBuckets <= 0)
          stepped.as("x")
            .join(stepped.select(col("node").as("c"), col("comp").as("cc")),
              col("x.comp") === col("c"), "left")
        else {
          val lhs = stepped.as("x")
            .withColumn("_sl", pmod(xxhash64(col("x.node")), lit(saltBuckets)))
          // replicate only label rows some lhs comp actually references:
          // dropping a rhs row whose node is nobody's comp changes
          // nothing (it could never match), and once clusters collapse
          // the referenced set is ONE row per cluster — the
          // saltBuckets-way explode then replicates almost nothing,
          // exactly in the late rounds where the comp skew peaks
          val rhs = stepped.select(col("node").as("c"), col("comp").as("cc"))
            .join(stepped.select(col("comp").as("c")).distinct(), Seq("c"), "left_semi")
            .withColumn("_sr",
              explode(array((0 until saltBuckets).map(lit(_)): _*)))
          lhs.join(rhs, col("x.comp") === col("c") && col("_sl") === col("_sr"), "left")
        }
      val next = ckpt(halved
        .select(col("x.node").as("node"),
          least(col("x.comp"), coalesce(col("cc"), col("x.comp"))).as("comp")))
      // convergence probe (r19, guide §1.2): labels are element-wise
      // NON-INCREASING (every assignment is a `least`), and the node set
      // is constant across rounds — so "no label changed" ⟺ "the label
      // sum is unchanged". A 1-row decimal(38,0) aggregation of `next`
      // alone (exact up to 10^38 — no overflow at any id/graph scale)
      // replaces the next⋈labels join the old any-changed probe paid
      // every round; the probe job still materializes the round's lazy
      // checkpoints, so jobs per round stay 1 with one less join+shuffle
      // inside. The row count rides in the same aggregate, so an empty
      // frame is told apart from an overflowed (null) sum.
      val probe = next.agg(count(lit(1)), sum(col("comp").cast("decimal(38,0)"))).head()
      val sumNow = probe.getDecimal(1)
      release(labels)
      release(stepped)
      labels = next
      converged = labelSumConverged(prevSum, probe.getLong(0), sumNow)
      prevSum = sumNow
      i += 1
    }
    labels
    } finally edges.unpersist()
  }

  /** The convergence decision of [[connectedComponents]]' label-sum probe:
    * an empty label frame has nothing to propagate; otherwise the labels
    * are stable when this round's sum equals the previous round's. A null
    * sum over present rows means the decimal sum overflowed, which the
    * probe cannot judge, so it throws instead of reading it as converged.
    */
  private[graft] def labelSumConverged(prevSum: java.math.BigDecimal, rows: Long,
                                       sumNow: java.math.BigDecimal): Boolean =
    if (rows == 0L) true
    else if (sumNow == null)
      throw new IllegalStateException(
        s"connectedComponents: label sum over $rows rows is null (decimal overflow)")
    else prevSum != null && prevSum.compareTo(sumNow) == 0

  /** End-to-end dedup resolution: given the corpus and a verified
    * candidate-pair set, drop every document that is NOT its cluster's
    * canonical (minimum-id) member. Composes [[connectedComponents]] with
    * one left-anti join: components label only documents that appear in a
    * pair, so untouched documents pass through unjoined.
    */
  def resolve(docs: DataFrame, pairs: DataFrame, id: String,
              checkpointDir: Option[String] = None,
              saltBuckets: Int = 0): DataFrame = {
    val losers = connectedComponents(pairs, checkpointDir = checkpointDir,
        saltBuckets = saltBuckets)
      .where(col("node") =!= col("comp")).select(col("node"))
    docs.join(losers, docs(id) === losers("node"), "left_anti")
  }

  /** [[resolve]] with a QUALITY-BASED canonical: each duplicate cluster
    * keeps its highest-`score` member (ties → smallest id) instead of the
    * smallest id — the policy real corpus dedup wants (keep the cleanest
    * copy, not the accidental first one). Same scale shape as resolve:
    * components over the pair set, one score join, a per-cluster `max_by`
    * (map-side partials), and one anti-join back onto the corpus.
    */
  def resolveBy(docs: DataFrame, pairs: DataFrame, id: String, score: Column,
                checkpointDir: Option[String] = None,
                saltBuckets: Int = 0): DataFrame = {
    val scored = connectedComponents(pairs, checkpointDir = checkpointDir,
        saltBuckets = saltBuckets)
      .join(docs.select(col(id).as("node"), score.as("_score")), "node")
    val winners = scored.groupBy("comp")
      .agg(max_by(col("node"), struct(col("_score"), -col("node"))).as("node"))
    val losers = scored.select("node")
      .join(winners.select("node"), Seq("node"), "left_anti")
    docs.join(losers, docs(id) === losers("node"), "left_anti")
  }

  // ---- benchmark decontamination ------------------------------------------

  /** Contaminated corpus ids: documents sharing at least one word `n`-gram
    * with any document in `evalSet` (the standard train/test-leakage
    * check). STRICT n-grams — documents shorter than `n` tokens produce no
    * grams and can't contaminate (no token-level fallback here, unlike
    * [[graft.functions.TextFunctions.wordNgrams]]'s shingling use).
    *
    * Scale shape: eval sets (benchmarks) are tiny next to the corpus, so
    * the distinct eval grams BROADCAST and the corpus side is one scan +
    * explode + broadcast semi-join — the corpus never shuffles.
    */
  def contaminatedIds(corpus: DataFrame, evalSet: DataFrame, id: String,
                      text: String, n: Int = 8): DataFrame = {
    def strictGrams(t: Column) =
      when(size(TextFunctions.tokens(t)) >= n,
        array_distinct(TextFunctions.wordNgrams(t, n))).otherwise(array())
    val evalGrams = evalSet.select(explode(strictGrams(col(text))).as("g")).distinct()
    corpus.select(col(id), explode(strictGrams(col(text))).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select(col(id)).distinct()
  }

  // ---- edit-distance (fuzzy string) dedup ----------------------------------

  /** Deletion neighborhood of a string: every variant reachable by deleting
    * up to `depth` characters, the string itself included (SymSpell
    * blocking). Pure column expression — evaluates inside the scan, no UDF.
    * Neighborhood size is C(len, depth)-ish, so this is for SHORT keys
    * (names, titles, codes), not document bodies.
    */
  def deletionNeighborhood(s: Column, depth: Int): Column = {
    def dels(w: Column): Column =
      when(length(w) <= 0, array()).otherwise(
        transform(sequence(lit(1), length(w)),
          i => concat(w.substr(lit(1), i - 1), w.substr(i + 1, length(w)))))
    (1 to depth).foldLeft(array(s)) { (acc, _) =>
      array_distinct(concat(acc, flatten(transform(acc, dels(_)))))
    }
  }

  /** Fuzzy-match pairs with edit distance ≤ `maxDist`, SymSpell-style:
    * two strings within distance d always share a member of their
    * depth-d deletion neighborhoods, so candidates come from a bucket
    * self-join on the neighborhood hash and only candidates pay the
    * O(len²) Levenshtein verify — never an all-pairs product.
    *
    * Scale shape: ONE shuffle. The exploded frame carries
    * (id, string, 8-byte variant hash); the self-join keys on the variant
    * hash, so both sides share the exchange (plan reuse) and the verify
    * runs inside the bucket join with no re-join for strings. Carrying
    * the string is deliberate: this operator is for SHORT keys (names,
    * titles, codes — neighborhood generation is O(len²) anyway), where
    * the string costs about as much on the wire as a second join key —
    * the measured alternative (slim hash-only shuffle + two corpus-wide
    * joins to fetch strings for candidates + an extra pre-verify
    * distinct) went super-linear at 100× data. Verification precedes the
    * pair distinct, so a pair sharing k variants pays k cheap Levenshtein
    * calls instead of an extra shuffle. Bucket sizes track true
    * near-match density (a variant shared by k strings yields k²/2
    * candidates, mostly real matches). xxhash64 collisions only add
    * candidates; the exact verify removes them.
    *
    * `maxBucket` (default 5000 — short-key variant buckets tolerate a
    * higher cap than document LSH; 0 = explicit opt-out) is the same
    * hot-bucket guard as
    * [[minhashPairs]]: a mega-cluster of identical keys shares every
    * variant bucket, putting k²/2 Levenshtein calls on one task. Variant
    * buckets larger than the cap drop before the self-join (size
    * aggregation + semi-join — no extra corpus pass). Tradeoff: pairs
    * whose EVERY shared variant sits in an oversized bucket are lost —
    * byte-identical keys are [[exact]] dedup's job upstream, and a
    * near-match pair that differs at all shares many variants, most in
    * sparser buckets.
    */
  def editDistancePairs(docs: DataFrame, id: String, text: String,
                        maxDist: Int = 1, maxBucket: Int = 5000): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2, s"maxDist out of range: $maxDist")
    // no distinct needed: deletionNeighborhood array_distincts per doc,
    // so (doc, vh) rows are already unique — a distinct here would add a
    // third corpus-scale shuffle for nothing
    // r19 audit (guide §1.1 — measured and REJECTED): a
    // distinct-pairs-before-verify form (slim (vh, doc) self-join,
    // strings joined back once per distinct pair, DP once per pair)
    // LOSES same-JVM at sf0.1 — best-of-4 1.28 s (this form)
    // vs 2.00 s (that form). At maxDist = 1 the threshold-bounded DP
    // over ~18-char names is a few dozen ops, nearly every
    // shared-variant pair passes it (262.5k verified pairs), and the
    // short strings are cheap on the wire — so the pre-distinct saves
    // almost no DP work while adding two joins. The r18 shape stands.
    val variantsAll = docs
      .where(col(text).isNotNull)
      .select(col(id).as("doc"), col(text).as("str"),
        explode(deletionNeighborhood(col(text), maxDist)).as("v"))
      .select(col("doc"), col("str"), xxhash64(col("v")).as("vh"))
    val variants = capBuckets(variantsAll, Seq("vh"), maxBucket, "editDistancePairs")
    variants.select(col("vh"), col("doc").as("a"), col("str").as("str_a"))
      .join(variants.select(col("vh"), col("doc").as("b"), col("str").as("str_b")), "vh")
      .where(col("a") < col("b"))
      // bounded verify: the threshold form early-exits the DP past
      // maxDist (O(len·maxDist) per pair instead of O(len²)) and returns
      // -1 above it — exact for every pair we keep, ~2x faster on the
      // certified bench corpus where the verify dominates
      .select(col("a"), col("b"),
        levenshtein(col("str_a"), col("str_b"), maxDist).as("dist"))
      .where(col("dist").between(0, maxDist))
      .distinct()
  }

  // ---- SimHash ------------------------------------------------------------

  /** 64-bit SimHash signatures, one (doc, sh) row per document with at
    * least one token: for each bit position, sum ±1 contributions of every
    * token hash; bit = 1 when the sum is positive. SimHash is a pure
    * per-document fold, so the per-row [[graft.functions.SimHashSig]]
    * kernel computes it in the scan with no explode + groupBy exchange
    * (the [[minhashSigs]] device, including its 0/1-element array that
    * drops token-free docs through the explode).
    */
  def simhashSigs(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc"),
      explode(column(SimHashSig(expression(col(text))))).as("sh"))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`, found by
    * blocking on `maxHamming + 1` bit-chunks (pigeonhole: distance ≤ h ⇒
    * at least one of h+1 chunks is equal — completeness holds for ANY
    * maxHamming ≤ 31) and verifying with bit_count(xor).
    */
  def simhashPairs(docs: DataFrame, id: String, text: String, maxHamming: Int = 3,
                   maxBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31, s"maxHamming out of range: $maxHamming")
    val nChunks = maxHamming + 1
    // chunk c covers bits [lo, hi): widths differ by at most 1
    val bounds = (0 to nChunks).map(c => (c * 64) / nChunks)
    val sigs = simhashSigs(docs, id, text)
    val chunkedAll = sigs.select(col("doc"), col("sh"),
      explode(array((0 until nChunks).map { c =>
        val (lo, hi) = (bounds(c), bounds(c + 1))
        val mask = if (hi - lo >= 64) -1L else (1L << (hi - lo)) - 1
        struct(lit(c).as("chunk"), shiftright(col("sh"), lo).bitwiseAND(mask).as("ck"))
      }: _*)).as("b"))
      .select(col("doc"), col("sh"), col("b.chunk").as("chunk"), col("b.ck").as("chunk_key"))
    // same hot-bucket guard as minhashPairs(maxBucket): a mega-cluster of
    // identical signatures shares every chunk bucket → k²/2 pairs on one
    // task; oversized buckets drop before the self-join
    val chunked = capBuckets(chunkedAll, Seq("chunk", "chunk_key"), maxBucket, "simhashPairs")
    val l = chunked.select(col("chunk"), col("chunk_key"), col("doc").as("a"), col("sh").as("sh_a"))
    val r = chunked.select(col("chunk"), col("chunk_key"), col("doc").as("b"), col("sh").as("sh_b"))
    // filter BEFORE the distinct: the Hamming verify is a per-row
    // expression, the distinct is a shuffle — rejecting first shrinks the
    // exchange and doesn't rely on Catalyst pushing the predicate through
    // the aggregate
    l.join(r, Seq("chunk", "chunk_key")).where(col("a") < col("b"))
      .select(col("a"), col("b"), bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
