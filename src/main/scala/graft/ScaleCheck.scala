package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Empirical scale-up audit: replicate the sf corpus by each factor (ids
  * offset, content perturbed so near-dup structure doesn't densify
  * artificially), run every case on the 1x and the Nx corpus, and append
  * the observed ratios to SCALE.md. Linear-ish ratios are the evidence
  * that the operator shapes (bucketed joins, partial aggregation, banded
  * LSH) hold under growth — the same property the 100 TB design claims
  * rest on.
  *
  * Each factor runs three kinds of case, one SCALE.md table each:
  *   - batch cases: one body timed on both corpora (min-of-2 noop-sink
  *     runs), plus the LSH skew guard and the 4 → 32 shard container reads;
  *   - streaming engine arms: stateful streaming shapes driven through
  *     the real engine, with the `stateOperators` state rows and memory
  *     from its own progress events next to wall time. The batch curves
  *     certify plan shape under growth; these certify STATE-STORE growth,
  *     the thing that actually kills a streaming job at 100 TB;
  *   - persisted-store arms: ingest twins whose cross-batch state lives in
  *     per-batch parquet stores, measured by reading the stores back.
  *
  * Inputs:
  *   - `SPARK_GRAFT_SF_DIR`: the source corpus;
  *   - `SPARK_GRAFT_SCALE_FACTORS`: comma-separated factors (default
  *     10,100; empty runs no factor, for `salt_crossover` alone);
  *   - `SPARK_GRAFT_SCALE_CASES`: comma-separated case-name prefixes
  *     (default: every case but the opt-in `salt_crossover` and
  *     `skew_banded`, which run only when a prefix names them).
  *
  * A run appends its sections to SCALE.md in the working directory and
  * writes the file's header only when the file is absent, so a fresh
  * sweep deletes SCALE.md first. Replicated corpora live under one
  * scratch root and go as soon as their factor ends.
  */
object ScaleCheck {

  // replica id offset far above any plausible source id (collision with
  // real ids would merge distinct rows and corrupt the measurement)
  private val Off = 1000000000000L

  /** Cases that run only when `SPARK_GRAFT_SCALE_CASES` names them. */
  val optIn: Seq[String] = Seq("salt_crossover", "skew_banded")

  /** The cases each factor runs on its 1x and Nx corpora, in run order. */
  def factorCases: Seq[String] =
    (batchCases.map(_._1) ++ Seq("skew_guard", "resolve_mega") ++ shardCases.map(_.name) ++
      engineArms.map(_.name) ++ storeArms.map(_._1)).distinct

  /** Every case name in run order. */
  def caseNames: Seq[String] = factorCases ++ optIn

  /** The cases a `SPARK_GRAFT_SCALE_CASES` value selects, in run order:
    * names starting with one of its comma-separated prefixes, or every
    * case but the opt-in ones when it names none.
    */
  def select(filter: String): Seq[String] = {
    val prefixes = filter.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    if (prefixes.isEmpty) caseNames.filterNot(optIn.contains)
    else caseNames.filter(n => prefixes.exists(n.startsWith))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "10,100")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    val chosen = select(sys.env.getOrElse("SPARK_GRAFT_SCALE_CASES", "")).toSet
    val spark = Graft.session()
    val root = ProbeUtil.scratchDir("scale")
    val sb = new StringBuilder
    try {
      if (factorCases.exists(chosen))
        factors.foreach(f => runFactor(spark, sfDir, s"$root/x$f", f, chosen, sb))
      if (chosen("salt_crossover")) saltCrossover(spark, sb)
      if (chosen("skew_banded") && factors.nonEmpty) skewBanded(spark, sfDir, factors, sb)
    } finally {
      ProbeUtil.deleteRecursively(Paths.get(root))
      spark.stop()
    }
    val p = Paths.get("SCALE.md")
    if (!Files.exists(p)) Files.writeString(p,
      "# SCALE — measured scale-up behavior\n\n" +
      s"Generated by `graft.ScaleCheck` from `$sfDir` replicated by each factor\n" +
      "(ids offset, timestamps jittered, text/vectors perturbed so similarity\n" +
      "structure stays realistic). Times are min-of-2 noop-sink runs, local[*].\n" +
      "A shape that survives growth shows a time ratio at or below the data\n" +
      "factor; super-linear ratios would flag shapes that can't survive 100 TB.\n")
    Files.writeString(p, Files.readString(p) + sb.toString)
    println("appended SCALE.md")
  }

  // ---- corpus ---------------------------------------------------------------

  /** `src` replicated `factor` times, each row projected by `cols(r)` for
    * its replica id `r`. Replicates via crossJoin with a replica-id range,
    * not an N-arm union: a union plan grows with the factor (1000 arms of
    * distinct projections stall the analyzer), while the crossJoin form is
    * one constant-size plan at any factor. The SOURCE repartitions BEFORE
    * the crossJoin: the sf parquet arrives in 1-2 partitions, and the
    * crossJoin preserves its left side's partitioning, so without the
    * spread the whole factor-x expansion runs in those 1-2 tasks
    * (measured: the 1000x events write sat >10 min at ~1 core) and the
    * corpus lands in a handful of giant files that starve downstream
    * scans (w2_session 6.6 s vs 1.1 s at 100x).
    */
  private def replicate(src: DataFrame, factor: Int)(cols: Column => Seq[Column]): DataFrame = {
    val replicas = broadcast(src.sparkSession.range(factor).select(col("id").as("_r")))
    src.repartition(math.max(32, math.min(factor, 256))).crossJoin(replicas)
      .select(cols(col("_r")): _*)
  }

  // time spent writing replicated tables, which `time` leaves out
  private var tableWriteNanos = 0L

  /** The frames the cases read at one factor: the source tables at 1x;
    * at Nx their replicas, each written under `dir` the first time a case
    * reads it (the write is not timed). At 1x every replica transform is
    * the identity, so each case body is one function of a Corpus.
    */
  private final class Corpus(val spark: SparkSession, sfDir: String, val factor: Int, dir: String) {
    private var scratchSeq = 0

    /** A fresh path under this corpus's dir. */
    def scratch(tag: String): String = { scratchSeq += 1; s"$dir/$tag-$scratchSeq" }

    private def table(name: String, source: DataFrame)(model: Column => Seq[Column]): DataFrame =
      if (factor == 1) source
      else {
        val t0 = System.nanoTime()
        replicate(source, factor)(model).write.mode("overwrite").parquet(s"$dir/$name")
        tableWriteNanos += System.nanoTime() - t0
        spark.read.parquet(s"$dir/$name")
      }

    // events xN: new ids, timestamps jittered within +/- 30s so windows
    // and join buckets densify (more rows per (key, window)) rather than
    // duplicating exactly
    private lazy val eventRows = table("events", Graft.events(spark, sfDir)) { r => Seq(
      (col("event_id") + r * Off).as("event_id"),
      (col("ts_us") + (xxhash64(col("event_id"), r) % 30000000L)).as("ts_us"),
      col("user_id"), col("event_type"), col("value"), col("props")) }

    /** `df` with a string `key`: the user id, or with `disjoint` at Nx the
      * replica id and the user id. Disjoint keys grow the key space Nx, so
      * the TRUE match set of a join grows linearly with the factor and its
      * ratio measures the JOIN SHAPE; shared keys densify each
      * (key, bucket) cell, so a join's true output grows ~quadratically
      * (d purchases x d views per cell) — a STRESS case whose ratio tracks
      * output volume, not the algorithm. The replica id is recoverable
      * from the offset event_id, so disjoint keys need no second corpus
      * write.
      */
    def withKey(df: DataFrame, disjoint: Boolean): DataFrame =
      df.withColumn("key",
        if (disjoint && factor > 1)
          concat(expr(s"event_id div ${Off}L").cast("string"), lit("_"), col("user_id").cast("string"))
        else col("user_id").cast("string"))

    def events: DataFrame = withKey(eventRows, disjoint = false)
    def eventsDisjoint: DataFrame = withKey(eventRows, disjoint = true)

    // documents xN: every token suffixed with the replica id, so shingle
    // sets are DISJOINT across replicas — each replica keeps the
    // original's internal near-dup structure but adds no cross-replica
    // pairs. (A single appended marker instead leaves replicas at ~0.98
    // jaccard to each other → 100-member dup clusters → the TRUE pair
    // count, and thus any correct dedup's output, grows quadratically —
    // that measures the data, not the algorithm.)
    lazy val docs: DataFrame = table("documents", Graft.documents(spark, sfDir)) { r => Seq(
      (col("doc_id") + r * Off).as("doc_id"),
      regexp_replace(col("text"), lit("(\\w+)"), concat(lit("$1x"), r.cast("string"))).as("text"),
      col("lang"), col("source"), col("n_chars")) }

    /** `docs` with each replica's LENGTH BANDS offset by its replica id
      * (recoverable from the offset doc_id, so no second corpus write):
      * blocks keyed on n_chars stay replica-sized.
      */
    def docsDisjoint: DataFrame =
      if (factor == 1) docs
      else docs.withColumn("n_chars",
        col("n_chars").cast("long") + expr(s"doc_id div ${Off}L") * 1000000L)

    /** `docs` with the replica token suffix stripped, so lines repeat
      * ACROSS replicas: the "real corpus grown Fx" model.
      */
    def docsUnsuffixed: DataFrame =
      if (factor == 1) docs
      else docs.select(col("doc_id"), regexp_replace(col("text"), "x[0-9]+\\b", "").as("text"))

    /** Doc ids densified back to 0..f*n-1, so a modular graph over them
      * scales honestly instead of spraying ghost targets.
      */
    def denseDocIds: DataFrame =
      if (factor == 1) docs.select("doc_id")
      else {
        val n = Graft.documents(spark, sfDir).count()
        docs.select(((col("doc_id") % Off) + expr(s"doc_id div ${Off}L") * n).as("doc_id"))
      }

    /** A query term of replica 0: every replicated token carries its
      * replica suffix.
      */
    def term(t: String): String = if (factor == 1) t else s"${t}x0"

    /** Documents with ids offset per replica but the source's text
      * unchanged, never written: the stores of the ingest arms grow with
      * distinct content or with ids, not with a perturbation of the text.
      */
    def docsSameText: DataFrame = {
      val d = Graft.documents(spark, sfDir).select("doc_id", "text", "lang", "n_chars")
      if (factor == 1) d
      else replicate(d, factor)(r => Seq((col("doc_id") + r * Off).as("doc_id"),
        col("text"), col("lang"), col("n_chars")))
    }

    lazy val emb: DataFrame = table("embeddings", Graft.embeddings(spark, sfDir)) { r => Seq(
      (col("vec_id") + r * Off).as("vec_id"),
      transform(col("embedding"), x => x * (lit(1.0f) + (r.cast("float") * lit(0.003f)))).as("embedding"),
      col("label")) }

    // customer xN for fuzzy dedup: the "-r-r" suffix differs in ≥2
    // positions (or ≥2 length) across replicas, so depth-1 deletion
    // neighborhoods never bridge replicas — each replica keeps the
    // original's dist-1 pair structure, no artificial cross-replica
    // candidates
    lazy val cust: DataFrame =
      table("customer", Graft.customer(spark, sfDir).select("c_custkey", "c_name")) { r => Seq(
        (col("c_custkey") + r * Off).as("c_custkey"),
        concat(col("c_name"), lit("-"), r.cast("string"), lit("-"), r.cast("string")).as("c_name")) }

    private def streamEvents = events.select("event_id", "ts_us", "user_id", "event_type", "value")

    // the events staged as a 3-file time-tertile stream directory, and
    // the file count of one tertile
    private lazy val staged: (String, Int) = {
      val src = streamEvents
      val mm = src.agg(min("ts_us"), max("ts_us")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val out = Files.createDirectories(Paths.get(s"$dir/stream"))
      val now = System.currentTimeMillis()
      val perTertile = (0 to 2).map { i =>
        val tmp = scratch(s"stream-part$i")
        src.where(least(floor((col("ts_us") - lit(lo)) * 3 / lit(hi - lo + 1)), lit(2)) === i)
          .write.mode("overwrite").parquet(tmp)
        // move ALL part files of the slice (a 100x tertile in one
        // coalesced file would serialize the write); modification
        // times pin batch order, oldest first
        val l = Files.list(Paths.get(tmp))
        try {
          var j = 0
          l.forEach { p =>
            if (p.toString.endsWith(".parquet")) {
              val t = out.resolve(f"b$i%d-$j%04d.parquet")
              Files.move(p, t)
              Files.setLastModifiedTime(t,
                java.nio.file.attribute.FileTime.fromMillis(now - (2 - i) * 120000L))
              j += 1
            }
          }
          j
        } finally l.close()
      }
      (out.toString, math.max(1, perTertile.head))
    }

    /** The events as a stream of three micro-batches, one time tertile
      * each (maxFilesPerTrigger = one tertile's files, AvailableNow), so
      * the watermark advances across batches and append-mode eviction
      * actually exercises the store.
      */
    def eventStream: DataFrame = {
      val (streamDir, per) = staged
      spark.readStream.schema(streamEvents.schema).option("maxFilesPerTrigger", per).parquet(streamDir)
    }
  }

  // ---- timers ---------------------------------------------------------------

  /** Seconds `f` takes to build and run to a noop sink, not counting the
    * replicated tables it writes on first read.
    */
  private def time(f: => DataFrame): Double = {
    // operators with internal persist()/checkpoint (connected
    // components; outer windowedJoin before it went semi-probe-based)
    // would otherwise serve the SECOND min-of-2 run from the first
    // run's cache via CacheManager plan-dedup — timing a cache scan
    // instead of the operator — and accumulate blocks across cases
    SparkSession.active.catalog.clearCache()
    val w0 = tableWriteNanos
    val t0 = System.nanoTime()
    f.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0 - (tableWriteNanos - w0)) / 1e9
  }

  private def min2(f: => DataFrame): Double = math.min(time(f), time(f))

  // ---- batch cases ----------------------------------------------------------

  import graft.dedup.Dedup
  import graft.functions.{Bpe, Sketches, TextFunctions}
  import graft.multimodal.Multimodal
  import graft.operators.{Joins, Windows}
  import graft.queries.PipelineQueries
  import graft.streaming.StreamingQueries

  private def ingestStream(df: DataFrame, root: String): DataFrame = {
    val (batch, corpus) = PipelineQueries.ingestSplit(df)
    StreamingQueries.runIngestStream(df.sparkSession, batch, corpus,
      StreamingQueries.harnessBatches(batch, "doc_id"), jaccardMin = 0.5, root)
  }

  // the gated multimodal ingest chain (consistency gate → decode + dHash
  // → corpus/seen anti-joins), the SHARED gate from the query
  private def crossmodalIngest(df: DataFrame, root: String): DataFrame = {
    val (batch, corpus) = PipelineQueries.ingestSplit(df)
    StreamingQueries.runGate(df.sparkSession, batch, corpus,
      StreamingQueries.harnessBatches(batch, "doc_id"), root)(PipelineQueries.crossModalGatedHash)
  }

  private def windowedJoin(ev: DataFrame, joinType: String): DataFrame =
    Joins.windowedJoin(ev.where(col("event_type") === "purchase"),
      ev.where(col("event_type") === "view"), "key", "ts_us", "event_id", 3600000000L, joinType)

  /** Each batch case: one body, run on the 1x and on the Nx corpus. Where
    * a body names a query entry's definition (PipelineQueries), the
    * audited shape is the certified one.
    */
  private val batchCases: Seq[(String, Corpus => DataFrame)] = Seq(
    ("w1_tumbling", c => Windows.tumblingCount(c.events, "ts_us", "5 minutes", col("event_type"))),
    ("w2_session", c => Windows.sessionCount(c.events, "ts_us", "1 hour", col("user_id"))),
    // A/B for the w2 scale curve: gaps-and-islands sessionization (the
    // library form, 1-hour gap per user) — lag + running sum over the
    // same per-key sort, then a plain groupBy. Both forms pay one
    // hash(user_id) exchange + per-key time sort; this measures whether
    // the built-in session_window's merge pass costs more than two
    // window passes (tradeoff documented in Windows.sessionCountGaps)
    ("w2_gaps", c => Windows.sessionCountGaps(c.events, "ts_us", 3600000000L, col("user_id"))),
    ("j1_windowed_join", c => windowedJoin(c.events, "inner")),
    // outer variant: the persisted-inner form must track the inner
    // join's growth (the pre-fix shape re-executed the join for the
    // union arm — 2x the work, visible as a ratio gap vs j1)
    ("j3_windowed_outer", c => windowedJoin(c.events, "full")),
    // keys-disjoint variants (see Corpus.withKey): the plain variants
    // above are the densifying stress cases
    ("j1_windowed_disjoint", c => windowedJoin(c.eventsDisjoint, "inner")),
    ("j3_windowed_disjoint", c => windowedJoin(c.eventsDisjoint, "full")),
    // distributed CMS: sketch build (map-side partials) + broadcast
    // sketch + executor-side estimate; nothing key-cardinality-sized on
    // the driver — the SAME helper the sk_cms query ships
    ("sk_cms", c => Sketches.cmsEstimate(c.events, "event_type")),
    ("agg_by_key", c => c.events.groupBy("key").agg(count(lit(1)), sum("value"))),
    ("dd_exact", c => Dedup.exact(c.docs, "doc_id", "text")),
    // content-defined chunk dedup: one codegen'd chunking scan + one
    // exchange on chunk content (suffixed replica tokens keep replicas'
    // chunk sets disjoint, so output and work grow linearly)
    ("dd_chunk", c => Dedup.chunkDedup(c.docs, "doc_id", "text")),
    // duplicated-span fraction: one shingle scan + window count on one
    // gram exchange + per-doc agg — all group-by on 8-byte keys, so
    // growth rides the exploded gram volume linearly (suffixed replica
    // tokens keep replica gram sets disjoint; a shared mega-span only
    // raises one group's count, never a pairing)
    ("dd_span", c => Dedup.spanStats(c.docs, "doc_id", "text")),
    // span REMOVAL: same gram exchange + one doc exchange for the
    // coverage window and rebuild — linear like dd_span, plus the
    // token-rebuild agg
    ("dd_span_remove", c => Dedup.spanRemove(c.docs, "doc_id", "text")),
    // the shipped (gated) configuration: the gaps-and-islands span
    // gate adds two window passes on the SAME doc exchange — this row
    // measures that the gate's cost is per-partition sorts, not a
    // new shuffle
    ("dd_span_gate16", c => Dedup.spanRemove(c.docs, "doc_id", "text", minSpanTokens = 16)),
    // hashed-linear classifier scoring: ONE codegen'd kernel scan,
    // zero shuffles — the ratio is the scan ratio
    ("txt_classifier", c => TextFunctions.classifierScore(c.docs, "doc_id", "text")),
    ("dd_minhash", c => Dedup.minhashPairs(c.docs, "doc_id", "text", 0.5)),
    // integer PageRank over the derived link graph: per round one
    // edges⋈ranks shuffle + one map-side-combinable dst aggregation,
    // rounds fixed at K=4 — the ratio should track the edge volume
    ("g_pagerank", c => {
      val ids = c.denseDocIds
      graft.graph.Graph.pageRank(graft.graph.Graph.syntheticLinkGraph(ids),
        ids.select(col("doc_id").as("node")), iterations = 4)
    }),
    // bitext mining: capped cross-side SRP bucket join + two rank
    // windows over the pair set — pair volume tracks true cross-side
    // similarity density (perturbed replicas stay near their source,
    // so candidates densify; the corpus-side cap bounds any bucket)
    ("pp_bitext_mine", c => PipelineQueries.bitextMine(c.emb)),
    ("dd_simhash", c => Dedup.simhashPairs(c.docs, "doc_id", "text", 3)),
    // the full dedup-resolution pipeline: LSH candidate pairs →
    // connected components (path-halved label propagation, localCheckpoint
    // lineage truncation) — rounds grow log(diameter), edges ~linearly
    ("dd_cc_pipeline", c => Dedup.connectedComponents(Dedup.minhashPairs(c.docs, "doc_id", "text", 0.5))),
    // containment-MinHash production arm: one signature+set-size pass,
    // capped banded buckets, Broder estimate, exact gram-set verify on
    // survivors. Replicas' shingle sets are DISJOINT (token suffixes), so
    // true pair volume grows linearly — the ratio measures the
    // sketch/bucket shape, not densifying data
    ("dd_containment_sketch", c => Dedup.verifyContainment(
        Dedup.containmentSketchPairs(c.docs, "doc_id", "text", 0.3),
        c.docs, "doc_id", "text", ngram = 3)
      .where(greatest(col("cont_ab"), col("cont_ba")) >= 0.3)),
    ("ann_lsh", c => graft.ann.Ann.lshTopK(c.emb, c.emb.where(col("vec_id") < 10),
      "vec_id", "embedding", 10, 6, 4)),
    // partitioned-window shuffle: per-shard sorts must parallelize, so
    // the ratio tracks data growth, never a single-reducer sort
    ("pp_shuffle", c => TextFunctions.deterministicShuffle(c.docs, "doc_id", 32, 42)),
    // length-bucketed batching: the composite-(bucket, block) prefix
    // device — local windows in id-range blocks + tiny broadcast
    // offsets; ratio must track data, never a per-bucket funnel (a
    // naive row_number-per-bucket would serialize each bucket)
    ("pp_length_buckets", c => PipelineQueries.lengthBucketBatches(c.docs)),
    // label-propagation communities: per-round label⋈edge shuffle +
    // two-level hash agg over the persisted undirected edge list —
    // rounds are fixed, so time must track edge count
    ("g_lpa", c => graft.graph.Graph.labelPropagation(
      graft.graph.Graph.syntheticLinkGraph(c.docs),
      c.docs.select(col("doc_id").as("node")), iterations = 3)),
    // rolling-active-users — the dedup aggregation absorbs the factor
    // (same (user, day) cells, Nx denser), the 7-way explode rides the
    // DEDUPED frame; ratio tracks the input scan, output constant
    ("q_dau_wau", c => PipelineQueries.dauWau(c.events)),
    // ordered funnel — three chained min-agg hash joins on the
    // skew-prone user key, each stage reduced to a per-user frame
    // BEFORE its join; ratio tracks the scans, never a quadratic
    ("q_funnel_steps", c => PipelineQueries.funnelSteps(c.events)),
    // the 3-sigma gate — scan-bound by construction (K-row broadcast
    // stats, no second exchange); ratio must track events
    ("q_outliers", c => PipelineQueries.outliers(c.events)),
    // native single-pass kernel: pure scan, zero shuffles
    ("txt_repetition", c => TextFunctions.repetitionSignals(c.docs, "doc_id", "text")),
    // incremental ingestion dedup: batch (10%) anti-joined against the
    // standing corpus (90%) — both sides hash-reduced before the join
    ("dd_incremental", c => {
      val (batch, corpus) = PipelineQueries.ingestSplit(c.docs)
      Dedup.incremental(batch, corpus, "doc_id", "text")
    }),
    // SymSpell fuzzy dedup: variant-hash bucket join + Levenshtein
    // verify — candidate volume tracks true near-match density, so the
    // ratio should follow the data factor, not square it
    ("dd_fuzzy", c => Dedup.editDistancePairs(c.cust, "c_custkey", "c_name")),
    // n-gram Jaccard blocking dedup, capped (the library default and
    // the PipelineQueries configuration): replicas share (lang,
    // n_chars), so block membership DENSIFIES with the factor and this
    // row measures the maxBucket guard holding the otherwise-quadratic
    // blocking self-join to bounded work (dropped blocks observable
    // via the capBuckets observe metrics)
    ("dd_ngram_jaccard", c => PipelineQueries.ngramJaccard(c.docs)),
    // keys-disjoint variant: replica length bands offset by replica id,
    // so block sizes stay constant, the cap stays inert, and TRUE
    // candidate volume grows linearly — this row measures the JOIN SHAPE
    ("dd_ngram_disjoint", c => PipelineQueries.ngramJaccard(c.docsDisjoint)),
    // SemDeDup: frozen-quantizer clusters + capped within-cluster
    // verify. Scalar-multiple replicas are cos-1.0 near-dups of their
    // source and keep its cluster assignment, so cluster membership
    // DENSIFIES with the factor — this row measures the maxCluster
    // guard bounding the per-cluster quadratic verify (dropped
    // clusters observable via the capBuckets observe metrics)
    ("dd_semantic", c => {
      val m = graft.ann.Ann.trainIvf(c.emb, "vec_id", "embedding", 16)
      graft.ann.Ann.semanticDedup(c.emb, "vec_id", "embedding", 0.35, m)
    }),
    // corpus-trained unigram LM: one (doc, term) shuffle + vocabulary
    // broadcast — the vocabulary grows with the corpus here (suffixed
    // replica tokens), stressing the broadcast path too
    ("txt_unigram_lp", c => TextFunctions.unigramLmScore(c.docs, "doc_id", "text")),
    // DSIR importance weights (the tagged single-scan production form):
    // one gram scan + (doc,bucket) shuffle; the suffixed replica tokens
    // grow the RAW VOCABULARY with the factor but the hashed model stays
    // exactly `buckets` rows — the bounded-model claim this row exists
    // to prove
    ("pp_dsir", c => TextFunctions.dsirWeightsTagged(c.docs, col("lang") === "en", "doc_id", "text")),
    // learned BPE: training cost is FIXED (top-vocabCap word
    // frequencies, corpus-size-independent); apply is one
    // replace-chain scan — the ratio should track token volume while
    // the 1x column absorbs the fixed training
    ("txt_bpe", c => {
      val m = Bpe.train(c.docs, "text", nMerges = 64)
      c.docs.select(col("doc_id"), Bpe.subwordCountBpe(col("text"), m).as("n_subwords"))
    }),
    // trie kernel at production merge-list size (1024 real merges on
    // digit-enriched text): the ratio should track token volume — the
    // Aho–Corasick candidate scan is one pass per word regardless of
    // nMerges, and training stays vocabCap-bounded
    ("txt_bpe_trie", c => {
      val e = Bpe.enrichWithIdTokens(c.docs)
      val m = Bpe.train(e, "btext", nMerges = 1024, vocabCap = 2000)
      e.select(col("doc_id"), Bpe.subwordCountBpe(col("btext"), m).as("n_subwords"))
    }),
    // tokenizer OUTPUT: the BpeEncode kernel scan + posexplode to token
    // rows — apply is flat in nMerges like the counting kernel, so the
    // ratio should track token volume (output rows grow with it)
    ("txt_bpe_encode", c => {
      val m = Bpe.train(c.docs, "text", nMerges = 64)
      c.docs.select(col("doc_id"),
        posexplode(Bpe.encodeBpe(col("text"), m)).as(Seq("pos", "token_id")))
    }),
    // boilerplate removal under the "real corpus grown Fx" model: the
    // replica token suffix is stripped so lines repeat ACROSS replicas
    // — df and the relative threshold then grow together (the suffixed
    // corpus would instead dilute relative df by F and empty the
    // boilerplate set, measuring a lighter workload than reality)
    ("dd_boilerplate", c => Dedup.boilerplateRemove(c.docsUnsuffixed, "doc_id", "text")),
    // cluster-balanced sample: broadcast-assignment scan + the
    // topKPerGroup two-phase rank — per-task contribution is capped at
    // nPer before the single list-id exchange, so the wide shuffle
    // stays nPer·partitions regardless of corpus size
    ("pp_cluster_sample", c => {
      val m = graft.ann.Ann.trainIvf(c.emb, "vec_id", "embedding", nLists = 16)
      graft.ann.Ann.clusterSample(c.emb, "vec_id", "embedding", 20, m)
    }),
    // surgical decontamination: eval grams distinct+broadcast, corpus
    // never shuffles on the gram — the one corpus exchange is the
    // shared doc-id hash; replicas keep disjoint gram sets (token
    // suffix), so eval volume and match structure grow linearly
    ("pp_decontam_spans", c => Dedup.decontamSpans(
      c.docs.where(col("doc_id") % 10 =!= 0), c.docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", k = 8, minSpanTokens = 16)),
    // real-codec round trip: build spec-conformant BMP/WAV bytes per
    // doc and parse them back — generation and decode are both
    // partition-local scans, so the ratio should track doc volume
    ("mm_decode", c => Multimodal.decodeMedia(Multimodal.syntheticMediaAssets(c.docs))),
    // compressed-format decode: the full JPEG pipeline (entropy decode
    // -> dequant -> IDCT) per doc, still a pure partition-local scan —
    // the ratio should track doc volume; replica-offset ids stay exact
    // (all formulas reduce with % after at most id*7 — no Long wrap
    // below ~1.3e18)
    ("mm_decode_jpeg", c => Multimodal.decodeJpegBlocks(Multimodal.syntheticJpegAssets(c.docs))),
    // subsampled + color paths: same partition-local shape with the
    // interleaved-MCU walk and the RGB conversion on top
    ("mm_jpeg_420", c => Multimodal.decodeJpegCoefStats(Multimodal.syntheticJpeg420Assets(c.docs))),
    ("mm_jpeg_rgb", c => Multimodal.jpegRgbBlocks(Multimodal.syntheticJpegColorAssets(c.docs))),
    // PNG codec: Deflater/Inflater + filter/unfilter per doc — a pure
    // partition-local scan, the ratio should track doc volume
    ("mm_decode_png", c => Multimodal.decodePngChannels(Multimodal.syntheticPngAssets(c.docs))),
    // FFT features: per-frame radix-2 FFT inside the scan — same
    // partition-local shape, cost linear in total frame count
    ("mm_audio_fft", c => Multimodal.audioSpectralFrames(Multimodal.syntheticToneWavAssets(c.docs))),
    // mel filterbank: FFT + 6 triangular band sums per frame —
    // identical partition-local shape, slightly heavier per-frame math
    ("mm_audio_mel", c => Multimodal.audioMelFrames(Multimodal.syntheticToneWavAssets(c.docs))),
    // image dedup (SHARED definition with the certified query): decode
    // + dHash partition-local ONCE, window count over the hash
    ("dd_image_phash", c => PipelineQueries.imagePhash(c.docs)),
    // decimation features: decode + per-frame FFT on the halved frames
    // — scan-local, cost linear in frame count
    ("mm_audio_decimate", c => Multimodal.audioDecimateFeatures(Multimodal.syntheticToneWavAssets(c.docs))),
    // acoustic fingerprint: per-frame FFT + filterbank + packing —
    // scan-local; the near-dup adds the one banded-pair exchange over
    // 16-byte canonical fingerprints (never raw audio)
    ("mm_audio_fingerprint", c => Multimodal.audioFingerprint(Multimodal.syntheticToneWavAssets(c.docs))),
    ("dd_audio_neardup", c => PipelineQueries.bandedHammingPairs(
      Multimodal.audioFingerprint(Multimodal.syntheticToneWavAssets(c.docs)), "afp_hi", "afp_lo", 3)),
    // DCT pHash: decode + fixed-point 32-point DCT per asset —
    // scan-local like the dHash, heavier per-asset math, zero shuffles
    ("dd_image_phash_dct", c => Multimodal.imagePHashDct(Multimodal.syntheticPngAssets(c.docs))),
    // banded near-dup on the DCT hash (same join machinery as
    // dd_image_neardup; canonical-hash count governs the pair stage)
    ("dd_image_neardup_dct", c => PipelineQueries.bandedHammingPairs(
      Multimodal.imagePHashDct(Multimodal.syntheticPngAssets(c.docs)), "phash_hi", "phash_lo", 3)),
    ("dd_image_resolve", c => PipelineQueries.imageResolve(c.docs)),
    // cross-modal score: generate + decode + dHash + two integer towers
    // inside ONE scan — cost linear in corpus, zero exchanges
    ("mm_text_image_score", c => PipelineQueries.textImagePairsScore(c.docs)),
    // NFKC+casefold dedup: normalization kernel inside the scan, then
    // the canonical 16-byte-digest hash groupBy — one exchange
    ("dd_exact_nfkc", c => Dedup.exact(
      c.docs.selectExpr("doc_id", "nfkc_casefold(text) AS text"), "doc_id", "text")),
    // banded near-dup pairs: canonical hashes -> 8-bit band blocking ->
    // popcount verify; no raw image reaches the pair join
    ("dd_image_neardup", c => PipelineQueries.imageNearDup(c.docs)),
    // contrastive mining: same broadcast/scan/list-shuffle shape as
    // ann_ivf; the corpus-side assignment scan dominates
    ("ann_contrastive", c => {
      val m = graft.ann.Ann.trainIvf(c.emb, "vec_id", "embedding", nLists = 16)
      graft.ann.Ann.contrastivePairs(c.emb, c.emb.where(col("vec_id") < 10),
        "vec_id", "embedding", kNeg = 10, nProbe = 6, m)
    }),
    // video: container walk + JPEG decode of sampled frames only —
    // partition-local, cost linear in sampled-frame volume
    ("mm_video_mjpeg", c => Multimodal.mjpegSampledFrames(Multimodal.syntheticMjpegAviAssets(c.docs), 2)),
    // box resize: decode + integer 2x2 averaging, partition-local
    ("mm_resize_box", c => Multimodal.boxDownsample(Multimodal.syntheticPngAssets(c.docs))),
    // sentence segmentation (SHARED definition with the certified
    // query): higher-order functions + explode in the scan, no shuffle
    ("txt_sentences", c => PipelineQueries.sentenceSegments(c.docs)),
    // BM25: cost is the corpus statistics (tokenize scan + two-level
    // agg + broadcasts), not the hit set — the replicated corpus
    // suffixes every token with its replica id, so the Nx arm queries
    // replica 0's terms: the stats pipeline still processes the full
    // corpus (the dominant, measured cost) and the hit set stays
    // replica-sized
    ("txt_bm25", c => TextFunctions.bm25(c.docs, "doc_id", "text",
      Seq("dup", "spark", "merge", "vector").map(c.term))),
    // bigram LM: per-replica token suffixes make replica bigram
    // vocabularies disjoint, so the (w1,w2) model grows Nx — the
    // realistic vocabulary-growth arm for a corpus-trained model
    ("txt_bigram_lp", c => TextFunctions.bigramLmScore(c.docs, "doc_id", "text")),
    // streaming ingest composition: foreachBatch micro-batches +
    // cross-batch hash state. The fixed streaming overhead (staging,
    // checkpoints, per-batch job rounds) dominates the 1x column; the
    // ratio shows the per-batch joins absorbing corpus growth. The Nx
    // arm uses DISJOINT per-replica length bands: plain replicas share
    // (lang, n_chars) blocking keys, so the near-dup candidate join
    // would grow QUADRATICALLY in the factor — a data artifact, not the
    // operator's shape (the same invariant dd_ngram_disjoint keeps)
    ("pp_ingest_streaming", c => ingestStream(c.docsDisjoint, c.scratch("ingest"))),
    // gated multimodal ingest: per-batch score + decode scans are
    // linear; the anti-joins ride 16-byte hashes (never pixels/text)
    ("pp_ingest_crossmodal", c => crossmodalIngest(c.docs, c.scratch("xmodal"))),
    // int8 quantization: pure per-row codegen'd scan, no shuffle
    ("mm_quantize", c => c.emb.select(col("vec_id"),
      graft.functions.VectorFunctions.quantizeInt8(col("embedding")).as("q"))),
    // heavy hitters: sketch scan (fixed summary on the wire) + the
    // exact certification shuffle — both linear in token volume
    ("sk_heavy", c => Sketches.heavyHitters(
      c.docs.select(explode(TextFunctions.tokens(col("text"))).as("tok")), col("tok"))),
    // snapshot diff: two hash-reduce scans + a full-outer join on id —
    // the diff moves 24-byte rows however big the text is
    ("pp_delta", c => Dedup.snapshotDelta(
      c.docs.where(pmod(col("doc_id"), lit(10)) =!= 3),
      c.docs.where(pmod(col("doc_id"), lit(10)) =!= 7), "doc_id", "text")),
    // PQ ANN: bounded training + one encode scan + O(m) ADC per pair —
    // growth rides the corpus scan, training cost stays fixed
    ("ann_pq", c => graft.ann.Ann.pqTopK(c.emb, c.emb.where(col("vec_id") < 10),
      "vec_id", "embedding", 10)),
    // round-robin interleave: per-stratum windows — sorts parallelize
    // across strata AND partitions, never a global order
    ("pp_interleave", c => TextFunctions.interleave(c.docs, "doc_id", "lang")),
    // one-pass profile: multi-DISTINCT Expand over the scan — the
    // intermediate is rows × cols but partials combine map-side
    ("pp_profile", c => graft.operators.Profiling.profile(c.docs, Seq("doc_id", "lang", "text"))),
    // mergeable HLL: two agg levels, shuffles carry fixed-size sketch
    // bytes — time should track the scan, state never grows past 2^lgK
    ("sk_hll_merge", c => Sketches.hllMergeDistinct(
      c.events.withColumn("day", expr("ts_us div 86400000000")), "event_type", col("day"), "user_id")),
    // the composed corpus-preparation pipeline: quality gate → exact
    // dedup → split → train-split packing — the end-to-end growth story
    ("pp_pipeline", c => PipelineQueries.preparePipeline(c.docs)))

  // ---- container reads ------------------------------------------------------

  /** A container-source read arm: the SAME Nx corpus is staged at 4
    * shards and at 32 shards by `write(corpus, dir, shards)` (outside the
    * timed region), and only `read(corpus, dir)` is timed.
    */
  private final case class Shards(name: String, label: String, what: String,
                                  write: (Corpus, String, Int) => Unit,
                                  read: (Corpus, String) => DataFrame)

  private def jsonPayload(d: DataFrame): Column =
    to_json(struct(d.columns.map(col): _*)).cast("binary")

  private def keyedPayloads(d: DataFrame): DataFrame =
    d.select(format_string("%016d", col("doc_id")).as("key"), lit("json").as("ext"),
      jsonPayload(d).as("payload"))

  // Container shards are NON-SPLITTABLE, so the certified claim is "read
  // parallelism = shard count — the writer's knob", not row-group
  // splitting: a shard-parallel reader shows the 32-shard read ~8x faster
  // on 32 cores while per-task work tracks shard size, not corpus size.
  private val shardCases: Seq[Shards] = {
    import graft.sources.{Safetensors, Sources, Warc}
    Seq(
      // TFRecord: record framing + CRC per record
      Shards("src_tfrecord", "s_tfrecord", "corpus read",
        (c, d, n) => Sources.writeTfRecords(c.docs.select(jsonPayload(c.docs).as("payload")),
          "payload", d, shards = n),
        (c, d) => Sources.readTfRecords(c.spark, d)),
      // WebDataset tar shards
      Shards("src_webdataset", "s_webdataset", "corpus read",
        (c, d, n) => Sources.writeWebDataset(keyedPayloads(c.docs), d, shards = n),
        (c, d) => Sources.readWebDataset(c.spark, d)),
      // Arrow IPC stream shards — same non-splittable contract (batch
      // boundaries walk message-by-message); per-task cost is the
      // flatbuffer walk + column slicing, no decompression
      Shards("src_arrowstream", "s_arrow", "corpus read",
        (c, d, n) => Sources.writeArrowStream(c.docs, d, shards = n),
        (c, d) => Sources.readArrowStream(c.spark, d, c.docs.schema)),
      // zip shards — central directory at the tail; stream mode walks
      // local headers, with DEFLATE inflation on the read path, so the
      // per-task cost is decompression-bound and the shard count is
      // still the only parallelism knob
      Shards("src_zipshards", "s_zipshards", "corpus read",
        (c, d, n) => Sources.writeZipShards(keyedPayloads(c.docs), d, shards = n),
        (c, d) => Sources.readZipShards(c.spark, d)),
      // WARC: per-task cost is CRLF header parsing + payload copy
      Shards("src_warc", "s_warc", "corpus read",
        (c, d, n) => Warc.writeShards(c.docs.select(
            concat(lit("https://corpus.example/doc/"), col("doc_id")).as("uri"),
            jsonPayload(c.docs).as("payload")), "uri", "payload", d, shards = n),
        (c, d) => Warc.read(c.spark, d)),
      // the WET COMPOSITION: WARC shards → strict record walk → the
      // codegen'd html_text extraction INSIDE the shard-read projection,
      // the exact WARC→WET stage a 100 TB CommonCrawl front end runs
      // first. The native kernel keeps extraction scan-local (no exchange
      // over the raw HTML), so 32 shards should beat 4 shards like the
      // plain container rows do
      Shards("src_warc_wet", "s_warc_wet", "WARC→WET read+extract",
        (c, d, n) => Warc.writeShards(PipelineQueries.syntheticHtml(c.docs).select(
            concat(lit("https://corpus.example/doc/"), col("doc_id")).as("uri"),
            col("html").cast("binary").as("payload")), "uri", "payload", d, shards = n),
        (c, d) => Warc.read(c.spark, d).select(
            regexp_extract(col("uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
            TextFunctions.htmlTextFast(col("payload").cast("string")).as("text_clean"))
          .withColumn("clean_chars", length(col("text_clean")).cast("long"))),
      // safetensors — all-or-nothing tensor shards (no record framing):
      // read = one header parse + bulk LE buffer slicing per shard,
      // bandwidth-bound
      Shards("src_safetensors", "s_safetensors", "corpus read",
        (c, d, n) => Safetensors.writeVectors(c.emb.select(col("vec_id"), col("embedding"),
          col("label").cast("long").as("label")), d, "vec_id", "embedding", "label", shards = n),
        (c, d) => Safetensors.readVectors(c.spark, d, "vec_id", "embedding", "label")),
      // the tf.Example IMAGE shard chain — stream-parse the TFRecord
      // framing, decode the protobuf feature map, decode the
      // image/encoded PNG payload, reduce to pixel sums; per-task memory
      // is one record (one image) at a time
      Shards("src_tfexample_media", "s_tfexample_media", "read+decode",
        (c, d, n) => {
          import c.spark.implicits._
          val payloads = c.docs.select(col("doc_id"), col("n_chars").cast("long"))
            .as[(Long, Long)].map { case (id, nc) =>
              Sources.TfExample.encode(Seq(
                "asset_id" -> id,
                "image/encoded" -> Multimodal.syntheticPngBytes(id, nc),
                "image/format" -> "png"))
            }.toDF("payload")
          Sources.writeTfRecords(payloads, "payload", d, shards = n)
        },
        (c, d) => {
          import c.spark.implicits._
          val assets = Sources.readTfRecords(c.spark, d)
            .as[Array[Byte]].map { b =>
              val m = Sources.TfExample.decode(b).toMap
              (m("asset_id").int64s.head, m("image/encoded").bytes.head)
            }.toDF("asset_id", "payload")
          Multimodal.decodePngChannels(assets)
            .groupBy("asset_id").agg(sum("px_sum").as("png_px_sum"))
        }))
  }

  // ---- streaming arms -------------------------------------------------------

  /** A streaming engine arm: `query` reads the corpus's event stream.
    * Replication models (match the model to the operator):
    *   - `*_dense`: same keys, timestamps jittered ±30 s — N× the rows
    *     into the SAME key/window space. State rows must stay ~flat
    *     (state ∝ keys × windows, never rows).
    *   - `*_disjoint`: replica-suffixed keys — N× the key space. State
    *     rows should grow ~N× (linear in keys) and time ~linear; the join
    *     uses the disjoint model because densified keys would grow its
    *     OUTPUT quadratically (that measures the data, not the engine).
    *   - the rocksdb rows: the same pipeline under the RocksDB
    *     state-store provider — the provider swap holds at the grown
    *     key space.
    */
  private final case class Engine(name: String, provider: String, query: Corpus => DataFrame)

  private def w2(c: Corpus, disjoint: Boolean): DataFrame =
    c.withKey(c.eventStream, disjoint)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "3 minutes")
      .groupBy(session_window(col("event_time"), "1 hour"), col("key")).count()

  private def j1(c: Corpus): DataFrame = {
    def side(tag: String) = c.withKey(c.eventStream, disjoint = true)
      .select(col("event_id").as(s"${tag}_event_id"), col("key").as(s"${tag}_key"),
        col("event_type").as(s"${tag}_type"), col("value").as(s"${tag}_amount"),
        timestamp_micros(col("ts_us")).as(s"${tag}_time"))
      .withWatermark(s"${tag}_time", "3 minutes")
    val l = side("l").where(col("l_type") === "purchase")
    val r = side("r").where(col("r_type") === "view")
    l.join(r, expr(
      "l_key = r_key AND r_time BETWEEN l_time - INTERVAL 1 HOUR AND l_time + INTERVAL 1 HOUR"))
      .select(col("l_event_id"), col("r_event_id"), col("l_key"),
        (col("l_amount") + col("r_amount")).as("combined"))
  }

  // exact streaming dedup keeps a state row per key FOREVER (the
  // dd_stream_dedup shape — state is O(distinct keys)), while
  // dropDuplicatesWithinWatermark evicts entries one horizon past their
  // first arrival — the bounded-state twin. The disjoint arms grow the
  // key space Nx: the unbounded arm's state must track keys ~Nx and NEVER
  // shrink across batches; the bounded arm's max state stays at the keys
  // live within one horizon of the watermark.
  private def dedupWm(c: Corpus): DataFrame =
    c.withKey(c.eventStream, disjoint = true)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("key")
      .select("key")

  private val engineArms: Seq[Engine] = Seq(
    Engine("w1_dense (window agg, same keys)", "hdfs", c =>
      c.eventStream
        .withColumn("event_time", timestamp_micros(col("ts_us")))
        .withWatermark("event_time", "3 minutes")
        .groupBy(window(col("event_time"), "5 minutes"), col("event_type")).count()),
    Engine("w2_dense (session agg, same keys)", "hdfs", w2(_, disjoint = false)),
    Engine("w2_disjoint (session agg, Nx keys)", "hdfs", w2(_, disjoint = true)),
    Engine("w2_disjoint (session agg, Nx keys)", "rocksdb", w2(_, disjoint = true)),
    Engine("j1_disjoint (interval join, Nx keys)", "hdfs", j1),
    Engine("dedup_unbounded (exact dedup, Nx keys)", "hdfs", c =>
      c.withKey(c.eventStream, disjoint = true).dropDuplicates("key").select("key")),
    Engine("dedup_wm_disjoint (1h-horizon dedup, Nx keys)", "hdfs", dedupWm),
    Engine("dedup_wm_disjoint (1h-horizon dedup, Nx keys)", "rocksdb", dedupWm))

  private final case class StreamRun(sec: Double, maxStateRows: Long, maxStateMB: Double,
                                     finalStateRows: Long)

  /** Runs `arm` on `c` to a noop sink from a fresh checkpoint until its
    * input drains: seconds, and the max state rows / memory across
    * micro-batches from the engine's progress events.
    */
  private def runStream(arm: Engine, c: Corpus): StreamRun = {
    val provider =
      if (arm.provider == "rocksdb") Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Map.empty[String, String]
    StreamingQueries.withConfs(c.spark, provider) {
      val out = arm.query(c)
      val t0 = System.nanoTime()
      val q = out.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", c.scratch("ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val withState = q.recentProgress.filter(_.stateOperators.nonEmpty)
      val rows = withState.map(p => p.stateOperators.map(_.numRowsTotal).sum)
      val mem = withState.map(p => p.stateOperators.map(_.memoryUsedBytes).sum)
      q.stop()
      StreamRun(sec,
        if (rows.isEmpty) 0L else rows.max,
        if (mem.isEmpty) 0.0 else mem.max / 1e6,
        // state rows AFTER the terminal batch's eviction — the number
        // that separates a horizon-bounded store (shrinks back toward
        // the live window) from an unbounded one (max == final,
        // forever); -1 when the query has no state operator
        if (rows.isEmpty) -1L else rows.last)
    }
  }

  /** Persisted-store arms: ingest twins whose cross-batch state lives in
    * PER-BATCH PARQUET STORES (the compacted-topic shape), not in the
    * engine's state operators, measured by reading the stores back after
    * the stream drains. Each body runs under a fresh root, and every
    * store under it is counted ([[runStore]]). Replication
    * keeps the TEXT UNCHANGED (Corpus.docsSameText):
    *   - txt_bm25_streaming: no dedup in this path, so disjoint ids alone
    *     grow the stats honestly → stats-store rows (per-doc lengths +
    *     query-term tfs) should grow ~Nx, time ~linear.
    *   - pp_ingest_media: the synthetic-PNG dHash domain is a function of
    *     (id mod small, n_chars mod 13), so DISTINCT hashes saturate by
    *     fixture construction — the hash store grows with DISTINCT
    *     CONTENT, never with rows; the saturation is the point.
    *   - pp_ingest: the cross-batch CONTENT-HASH state behind
    *     pp_ingest_streaming (the per-batch `seen` stores + the one-time
    *     corpus hash store). Distinct content saturates: the stores must
    *     grow with content diversity, never with row count — the same
    *     dedup-state law the media arm certifies, here for the md5 text
    *     gate.
    */
  private val storeArms: Seq[(String, (Corpus, String) => DataFrame)] = Seq(
    ("txt_bm25_streaming (stats store, Nx docs)", (c, root) => {
      val d = c.docsSameText
      StreamingQueries.runBm25Stream(c.spark, d, StreamingQueries.harnessBatches(d, "doc_id"),
        Seq("dup", "spark", "merge", "vector"), root)
    }),
    ("pp_ingest_media (hash store, Nx assets)", (c, root) => {
      val (batch, corpus) = PipelineQueries.ingestSplit(c.docsSameText)
      StreamingQueries.runGate(c.spark, batch, corpus,
          StreamingQueries.harnessBatches(batch, "doc_id"), root)(
        df => Multimodal.imageDHash(Multimodal.syntheticPngAssets(df)))
    }),
    ("pp_ingest (content-hash stores, Nx docs, text unchanged)", (c, root) => {
      val (batch, corpus) = PipelineQueries.ingestSplit(c.docsSameText)
      StreamingQueries.runIngestStream(c.spark, batch, corpus,
        StreamingQueries.harnessBatches(batch, "doc_id"), jaccardMin = 0.5, root)
    }))

  /** Seconds a store arm takes under a fresh root, the rows of the
    * stores under it and their MB. The run's checkpoint is
    * `_checkpoint` there, skipped like every `_`-prefixed Hadoop path. */
  private def runStore(c: Corpus, body: (Corpus, String) => DataFrame): (Double, Long, Double) = {
    val root = c.scratch("store")
    val sec = time(body(c, root))
    val listing = Files.list(Paths.get(root))
    val stores = try listing.iterator().asScala.toList
      .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
    finally listing.close()
    (sec,
      stores.map(d => c.spark.read.option("recursiveFileLookup", "true").parquet(d.toString).count()).sum,
      stores.map { d =>
        val walk = Files.walk(d)
        try walk.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
        finally walk.close()
      }.sum / 1e6)
  }

  /** A streaming arm's 1× and N× runs, timed like the batch cases: each
    * side runs twice, interleaved 1×, N×, 1×, N×, and keeps its faster
    * run, so the 1× column does not carry the JVM's first streaming
    * starts. */
  private def fasterOfTwo[A](small: => A, big: => A)(sec: A => Double): (A, A) = {
    val (s1, b1, s2, b2) = (small, big, small, big)
    (Seq(s1, s2).minBy(sec), Seq(b1, b2).minBy(sec))
  }

  // ---- one factor -----------------------------------------------------------

  private def runFactor(spark: SparkSession, sfDir: String, dir: String, factor: Int,
                        chosen: String => Boolean, sb: StringBuilder): Unit = {
    val small = new Corpus(spark, sfDir, 1, s"$dir/1x")
    val big = new Corpus(spark, sfDir, factor, s"$dir/${factor}x")
    def ratio(a: Double, b: Double) = b / math.max(a, 0.001)
    try {
      val batch = batchCases.filter(c => chosen(c._1))
      val shards = shardCases.filter(c => chosen(c.name))
      if (batch.nonEmpty || shards.nonEmpty || chosen("skew_guard") || chosen("resolve_mega")) {
        sb.append(s"\n## ${factor}x\n\n")
        sb.append(s"| operator | 1x sec | ${factor}x sec | ratio |\n|---|---|---|---|\n")
      }
      batch.foreach { case (name, body) =>
        val ts = min2(body(small))
        val tb = min2(body(big))
        sb.append(f"| $name | $ts%.2f | $tb%.2f | ${ratio(ts, tb)}%.1fx |\n")
        println(f"[scale] ${factor}x $name 1x=$ts%.2f big=$tb%.2f ratio=${ratio(ts, tb)}%.1f")
      }
      megaCluster(spark, small.docs, factor, chosen, sb)
      shards.foreach { s =>
        val d4 = big.scratch(s"${s.name}4"); val d32 = big.scratch(s"${s.name}32")
        s.write(big, d4, 4)
        s.write(big, d32, 32)
        val t4 = min2(s.read(big, d4))
        val t32 = min2(s.read(big, d32))
        sb.append(f"| ${s.label} ${factor}x ${s.what}, 4 shards → 32 shards | $t4%.2f | $t32%.2f | ${ratio(t32, t4)}%.1fx faster |\n")
        println(f"[scale] ${factor}x ${s.name} 4sh=$t4%.2f 32sh=$t32%.2f")
      }

      // headers and prose emit only WITH their rows
      val engine = engineArms.filter(a => chosen(a.name))
      if (engine.nonEmpty) {
        sb.append(s"\n## streaming state growth (factor $factor, real engine, 3 time-tertile micro-batches)\n\n")
        sb.append("Metrics from the engine's own progress events (`stateOperators`):\n")
        sb.append("max state rows / state memory across batches. Dense arms replicate\n")
        sb.append("rows into the same key space (state must stay ~flat); disjoint arms\n")
        sb.append(s"grow the key space ${factor}x (state should track keys, time ~linear).\n\n")
        sb.append(s"| case | provider | 1x sec | ${factor}x sec | time ratio | 1x state rows | ${factor}x state rows | rows ratio | 1x state MB | ${factor}x state MB |\n")
        sb.append("|---|---|---|---|---|---|---|---|---|---|\n")
      }
      engine.foreach { arm =>
        val (s, b) = fasterOfTwo(runStream(arm, small), runStream(arm, big))(_.sec)
        // state-rows cells show "max (final)": max is the batch peak,
        // final is what remains after the terminal watermark's eviction
        // — for an unbounded store they coincide; for a horizon-bounded
        // store the final shrinks to the keys still live in the window
        def rowsCell(r: StreamRun): String =
          if (r.finalStateRows < 0) s"${r.maxStateRows}"
          else s"${r.maxStateRows} (${r.finalStateRows})"
        val row = f"| ${arm.name} | ${arm.provider} | ${s.sec}%.2f | ${b.sec}%.2f | ${b.sec / s.sec}%.1f | " +
          f"${rowsCell(s)} | ${rowsCell(b)} | " +
          f"${if (s.maxStateRows == 0) 0.0 else b.maxStateRows.toDouble / s.maxStateRows}%.1f | " +
          f"${s.maxStateMB}%.1f | ${b.maxStateMB}%.1f |"
        println(s"[scale] ${factor}x $row")
        sb.append(row).append("\n")
      }

      val stores = storeArms.filter(a => chosen(a._1))
      if (stores.nonEmpty) {
        sb.append(s"\n### persisted-store state growth (factor $factor, foreachBatch parquet stores)\n\n")
        sb.append(s"| case | 1x sec | ${factor}x sec | time ratio | 1x store rows | ${factor}x store rows | rows ratio | 1x store MB | ${factor}x store MB |\n")
        sb.append("|---|---|---|---|---|---|---|---|---|\n")
        stores.foreach { case (name, body) =>
          val ((ss, sRows, sMB), (bs, bRows, bMB)) =
            fasterOfTwo(runStore(small, body), runStore(big, body))(_._1)
          val row = f"| $name | $ss%.2f | $bs%.2f | ${bs / ss}%.1f | $sRows%d | $bRows%d | " +
            f"${if (sRows == 0) 0.0 else bRows.toDouble / sRows}%.1f | $sMB%.1f | $bMB%.1f |"
          println(s"[scale] ${factor}x $row")
          sb.append(row).append("\n")
        }
        sb.append(
          "\nReading: bm25's stats store (per-doc lengths + query-term tfs) tracks\n" +
          "docs ~linearly — the additive-statistics design. The media hash store\n" +
          "grows with DISTINCT content, not rows: the synthetic dHash domain is\n" +
          "finite, so replicas collide into it and the store saturates — exactly\n" +
          "the dedup-state law that makes the gate viable at 100 TB (state is\n" +
          "bounded by content diversity, 16 bytes per distinct image).\n")
      }
    } finally {
      // the replicated corpus is factor x the source — delete it, don't
      // leak, INCLUDING when a case dies mid-run (a 1000x spot case that
      // exhausts spill space would otherwise strand a multi-GB corpus on
      // the very disk it just filled)
      val p = Paths.get(dir)
      if (Files.exists(p)) ProbeUtil.deleteRecursively(p)
    }
  }

  /** LSH skew guard: ONE mega-duplicate cluster of 50·factor identical
    * docs planted into the 1x corpus. Candidate volume inside that
    * cluster grows QUADRATICALLY (k²/2 pairs, all funneled through the
    * cluster's bucket-tasks), so the uncapped form is the scaling failure
    * the maxBucket guard exists for, while the capped run stays on the
    * corpus-shaped cost. Uncapped at 100x (a 5000-copy cluster → ~12.5M
    * in-cluster pairs per band) is measured once, not min-of-2 — the
    * point is its blowup, not its steady state.
    */
  private def megaCluster(spark: SparkSession, docs: DataFrame, factor: Int,
                          chosen: String => Boolean, sb: StringBuilder): Unit = {
    import spark.implicits._
    val k = 50 * factor
    def mega = (0 until k)
      .map(i => (2000000000L + i, "boilerplate page repeated verbatim exactly"))
      .toDF("doc_id", "text")
    def skewDocs = docs.select(col("doc_id"), col("text")).unionByName(mega)
    def timeAt(f: => DataFrame) = if (factor <= 10) min2(f) else time(f)
    if (chosen("skew_guard")) {
      val tCap = min2(Dedup.minhashPairs(skewDocs, "doc_id", "text", 0.5, maxBucket = 100))
      // maxBucket = 0 is an explicit opt-out (the library default is the
      // certified cap) — this row MEASURES the uncapped cliff; its
      // in-cluster pair count is k²/2, so it is never run at spot factors
      // past 100x (a 50k-copy cluster → 1.25e9 pairs)
      val tUncap = timeAt(Dedup.minhashPairs(skewDocs, "doc_id", "text", 0.5, maxBucket = 0))
      sb.append(f"| dd_minhash + ${k}-copy mega-cluster, capped | — | $tCap%.2f | — |\n")
      sb.append(f"| dd_minhash + ${k}-copy mega-cluster, uncapped | — | $tUncap%.2f | — |\n")
      println(f"[scale] ${factor}x lsh_skew_guard capped=$tCap%.2f uncapped=$tUncap%.2f")
    }
    if (chosen("resolve_mega")) {
      // the FULL resolve path over the same planted mega-cluster: capped
      // LSH candidates → Jaccard verify → connected components →
      // anti-join. The components rounds' path-halving self-join keys on
      // comp, so the mega-cluster's canonical id owns a cluster-sized
      // join group — saltBuckets spreads it (identical output, asserted
      // in DedupAnnSpec). Both flavors measured so SCALE.md records when
      // the salt starts paying (replicating the slim label frame vs the
      // one hot task).
      def resolveMega(salt: Int) = {
        val cand = Dedup.minhashPairs(skewDocs, "doc_id", "text", 0.5,
          maxBucket = 100).select("a", "b")
        val verified = Dedup.verifyJaccard(cand, skewDocs, "doc_id", "text")
          .where(col("jaccard") >= 0.5).select("a", "b")
        Dedup.resolve(skewDocs, verified, "doc_id", saltBuckets = salt)
      }
      val tResolve = timeAt(resolveMega(0))
      val tResolveSalt = timeAt(resolveMega(8))
      sb.append(f"| dd_lsh_resolve + ${k}-copy mega-cluster, unsalted components | — | $tResolve%.2f | — |\n")
      sb.append(f"| dd_lsh_resolve + ${k}-copy mega-cluster, salted components (8) | — | $tResolveSalt%.2f | — |\n")
      println(f"[scale] ${factor}x resolve_mega unsalted=$tResolve%.2f salted=$tResolveSalt%.2f")
    }
  }

  // ---- opt-in sections ------------------------------------------------------

  /** Components-salting crossover, measured directly: a planted STAR
    * cluster (node 0 ~ every other node) is the maximal-skew shape for
    * the path-halving self-join — after the first label step every node
    * carries comp=0, so the unsalted join funnels the entire cluster
    * through one task, while salting spreads it over saltBuckets tasks
    * at the cost of replicating the label frame saltBuckets ways.
    * Growing k finds where the spread pays on local[32]. Note the
    * LSH-capped resolve path never produces this shape (the default-ON
    * bucket caps bound any single bucket's pair fan-out), but CHAINED
    * near-dup clusters reach connectedComponents uncapped — that is the
    * caller this guidance is for. Corpus-free: run it with
    * SPARK_GRAFT_SCALE_FACTORS="" SPARK_GRAFT_SCALE_CASES=salt_crossover.
    */
  private def saltCrossover(spark: SparkSession, sb: StringBuilder): Unit = {
    sb.append("\n## components salting crossover (planted star cluster)\n\n")
    sb.append("| cluster size k | unsalted sec | salted(8) sec |\n|---|---|---|\n")
    Seq(1 << 20, 1 << 22, 1 << 24).foreach { k =>
      def star = spark.range(1, k.toLong)
        .select(lit(0L).as("a"), col("id").as("b"))
      def timeAt(f: => DataFrame) = if (k > (1 << 22)) time(f) else min2(f)
      val tU = timeAt(Dedup.connectedComponents(star))
      val tS = timeAt(Dedup.connectedComponents(star, saltBuckets = 8))
      sb.append(f"| $k%,d | $tU%.2f | $tS%.2f |\n")
      println(f"[scale] salt_crossover k=$k unsalted=$tU%.2f salted=$tS%.2f")
    }
    sb.append(
      "\nGuidance: salting pays from ~10^6-member clusters up (modest, " +
      "1.1-1.25x at 2^20-2^24 on local[32]) and loses nothing material " +
      "below; the LSH-capped resolve path never forms clusters past the " +
      "bucket cap (salted==unsalted tie in the mega-cluster rows above), " +
      "so enable `saltBuckets` only for UNCAPPED/chained pair sources " +
      "whose `Profiling.histogram` shows >=10^6-member components.\n")
  }

  /** Skewed-key stress for the banded-Hamming near-dup path: j_salted
    * covers salted TPC-H joins; this plants a MONOCULTURE image cluster —
    * 50% of assets carry fingerprints from one template (6 of the 8 bands
    * byte-identical across the cluster, 16 template-free bits spread over
    * the other two bands, the shape a single-site crawl produces) — and
    * measures the capBuckets guard doing its job: each pinned band
    * collapses into one mega-bucket that, unguarded, would emit
    * ~(cluster)^2/2 candidates; the default-on cap drops those buckets
    * WHOLE and reports the loss via the observe metrics, while the two
    * template-free bands keep pairing normally (buckets ~cluster/256,
    * below the cap). Wall time must track the healthy corpus;
    * dropped_buckets/max_bucket make the traded recall diagnosable — the
    * documented contract (a firing cap says: tighten the blocking or
    * switch strategy for that corpus). Hashes are planted AFTER the
    * decode+dHash scan (a cheap projection), so both arms pay the same
    * decode cost and the delta isolates the join stage. The replicated
    * docs are never written.
    */
  private def skewBanded(spark: SparkSession, sfDir: String, factors: Seq[Int],
                         sb: StringBuilder): Unit = {
    // drive each arm through ITS OWN QueryExecution (toRdd.foreach) so
    // the cap's observe metrics are readable synchronously from that
    // plan instance — a QueryExecutionListener races (it fires async,
    // and a late event from the HEALTHY arm landed after clear() and
    // got read as the skewed arm's numbers on the first run)
    def timeQe(f: => DataFrame): (Double, Map[String, org.apache.spark.sql.Row]) = {
      spark.catalog.clearCache()
      val df = f
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.foreach(_ => ())
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, df.queryExecution.observedMetrics
        .filter(_._1.contains("banded_hamming.cap")))
    }
    sb.append("\n## banded-Hamming skew stress (planted monoculture cluster, image near-dup)\n\n")
    sb.append("50% of assets re-fingerprinted from one template: 6 of 8 bands pinned\n")
    sb.append("(each a mega-bucket the default-on cap must drop whole, observably),\n")
    sb.append("16 random bits across the other two bands (buckets ~cluster/256 pair\n")
    sb.append("normally). Healthy = the unmodified fixture corpus, same decode cost.\n\n")
    sb.append("| factor | healthy sec | skewed(capped) sec | ratio | dropped buckets | dropped rows | max bucket |\n")
    sb.append("|---|---|---|---|---|---|---|\n")
    factors.foreach { f =>
      val docsBig = replicate(Graft.documents(spark, sfDir).select("doc_id", "n_chars"), f)(r =>
        Seq((col("doc_id") + r * Off).as("doc_id"), col("n_chars")))
      def hashes = Multimodal.imageDHash(Multimodal.syntheticPngAssets(docsBig))
      def skewed = hashes.select(col("asset_id"),
        when(pmod(col("asset_id"), lit(2)) === 0,
          xxhash64(col("asset_id")).bitwiseAND(lit(0xffffL))
            .bitwiseOR(lit(0x5a5a5a5a5a5a0000L)))
          .otherwise(col("dhash_hi")).as("dhash_hi"),
        when(pmod(col("asset_id"), lit(2)) === 0, lit(0x3c3c3c3c3c3c3c3cL))
          .otherwise(col("dhash_lo")).as("dhash_lo"))
      def pairs(h: DataFrame) = PipelineQueries.bandedHammingPairs(h, "dhash_hi", "dhash_lo", 3)
      val healthy = math.min(timeQe(pairs(hashes))._1, timeQe(pairs(hashes))._1)
      val (skewedSec, metrics) = timeQe(pairs(skewed))
      val m = metrics.values
      val row = f"| ${f}x | $healthy%.2f | $skewedSec%.2f | ${skewedSec / healthy}%.2f | " +
        f"${m.map(_.getAs[Long]("dropped_buckets")).sum}%d | " +
        f"${m.map(_.getAs[Long]("dropped_rows")).sum}%d | " +
        f"${(0L +: m.map(_.getAs[Long]("max_bucket")).toSeq).max}%d |"
      println(s"[scale] $row")
      sb.append(row).append("\n")
    }
    sb.append("\nReading: the pinned bands surface as a handful of dropped mega-buckets\n")
    sb.append("(max bucket ~ the planted cluster's distinct-fingerprint count) while\n")
    sb.append("wall time stays at the healthy corpus's — the quadratic stage the skew\n")
    sb.append("implies never materializes, and the loss is observable, not silent.\n")
  }
}
