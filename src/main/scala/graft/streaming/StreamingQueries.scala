package graft.streaming

import java.nio.file.{Files, Paths}
import graft.Graft
import graft.ProbeUtil.{deleteRecursively, scratchDir}
import org.apache.spark.sql.{DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The streaming engine under graft's streaming entries (SURVEY.md §2.1
  * S1/S3, §2.7 X4-X6/X10, §2.8 T3-T5): stream reads of corpus tables in
  * their canonical form, staged micro-batch inputs, and the drains that
  * run a streaming query to completion with `Trigger.AvailableNow` —
  * append, complete and update memory sinks, the foreachBatch upsert
  * and ingest loops — so the batch-style correctness gate can hash the
  * converged result while the path exercised is the streaming engine:
  * checkpointing (X4 ≈ commit), state stores (X5/X6), watermarks (T3),
  * graceful stop (T5). A streaming twin of a batch entry is declared
  * once in [[graft.queries.Twins]], which picks its drain here.
  */
object StreamingQueries {

  /** Input bytes per state partition in [[withStreamParts]]. */
  private val StreamPartBytes: Long = 32L << 20

  /** Scale-adaptive state partitioning for the stateful streaming twins
    * (r18 optimization, guide §2.2): a streaming stateful operator pins
    * its shuffle-partition count when the query starts — AQE is disabled
    * on streams, so the width must be sized HERE, to the stream's input
    * volume, the same way [[graft.graph.RoundLoop]] sizes the
    * iterative operators' loops. One state partition per [[StreamPartBytes]] of
    * input (32 MiB — the state-store-commit analog of a ~128 MB scan
    * task given that state is a reduction of input), clamped to
    * [1, session width]: a 100 TB ingest keeps the session's full
    * width, while a bench-SF stream stops paying per-trigger commit
    * overhead for 32 near-empty state stores. Measured (sf0.1 events,
    * complete-mode (user,day) agg, before local checkpoints moved to
    * [[LocalCheckpointFileManager]]): summed commitTimeMs was 10.8-51 s
    * at 32 stores vs 0.6 s at 8, and the trigger dropped 1.7-2.4 s →
    * 1.1 s; the same state on tmpfs was NOT faster. The cost was not
    * fsync but a `chmod` process that Hadoop's local file system forks
    * for every file it creates (no native Hadoop library), paid per
    * state store per trigger, so it grew with the store count. Values
    * are partition-count-invariant (exact per-key aggregations /
    * per-key processors), so results are bit-identical at any width.
    * The session's width comes back afterwards ([[withConfs]]);
    * post-convergence consumers plan at the caller's width.
    */
  def withStreamParts[A](spark: SparkSession, inputBytes: Long)(body: => A): A =
    if (inputBytes < 0) body
    else {
      val width = spark.conf.get("spark.sql.shuffle.partitions").toLong
      val parts = math.max(1L, math.min(width, inputBytes / StreamPartBytes + 1L))
      withConfs(spark, Map("spark.sql.shuffle.partitions" -> parts.toString))(body)
    }

  /** Run `body` with `confs` set on the session, then give each key back
    * the value it held before (a key the session never set is unset
    * again), so a caller's own setting survives the run.
    */
  def withConfs[A](spark: SparkSession, confs: Map[String, String])(body: => A): A = {
    val conf = spark.conf
    val prev = confs.keys.map(k => k -> conf.getOption(k)).toMap
    confs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Total byte size of a file or directory tree — the input-volume
    * probe [[withStreamParts]] sizes state partitioning from. */
  def pathBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_))
        .mapToLong(f => Files.size(f)).sum()
      finally walk.close()
    }
  }

  /** Micro-batch assignment for the streaming-twin harnesses: ascending
    * `idCol` n-tiles computed ARITHMETICALLY from one bounded 1-row max —
    * batch i holds ids in [i·(max+1)/n, (i+1)·(max+1)/n) — so staging
    * never needs a rank. Returns None when the frame is empty (max() is
    * NULL); the ADVICE r11 null guard lives HERE, in one definition,
    * instead of five inline copies (VERDICT r12 #3). The 1-row agg is
    * the sanctioned bounded-scalar driver read.
    */
  def harnessBatches(df: DataFrame, idCol: String,
                     n: Int = 3): Option[org.apache.spark.sql.Column] = {
    val maxRow = df.agg(max(idCol)).head()
    if (maxRow.isNullAt(0)) None
    else {
      val maxId = maxRow.getLong(0)
      Some(least(floor(col(idCol) * n / (maxId + 1)), lit(n - 1)).cast("int"))
    }
  }

  /** Streaming read of a parquet "topic" with the batch-inferred schema,
    * in the same [[Graft.canonical]] form as the batch read of `table`.
    * The file-stream source lists a directory. A table stored as a
    * directory of files already is one and streams every file in place;
    * a single-file table is staged by link (copy across filesystems) into
    * a temp dir — what a real deployment's topic directory would be.
    */
  def readStreamParquet(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = Paths.get(s"$dir/$table.parquet")
    val streamDir =
      if (Files.isDirectory(path)) path
      else {
        val staged = Paths.get(scratchDir(s"stream-$table"))
        val target = staged.resolve(s"$table.parquet")
        try Files.createLink(target, path)
        catch { case _: Exception => Files.copy(path, target) }
        staged
      }
    val schema = spark.read.parquet(path.toString).schema
    Graft.canonical(table, spark.readStream.schema(schema).parquet(streamDir.toString))
  }

  /** Stage a table as an N-FILE stream directory (file i = rows where
    * `batchOf` = i) and open it with one file admitted per micro-batch,
    * so watermark ADVANCEMENT is observable end-to-end. File order is
    * pinned by distinct modification times (the source admits
    * oldest-first).
    *
    * Spark runs TWO watermarks per batch (SPARK-40925): late-input
    * filtering uses the PREVIOUS batch's watermark, state eviction the
    * current one. So rows in file i face a late-drop threshold derived
    * from files 0..i-2 and an eviction threshold from files 0..i-1 —
    * reaching the real drop path needs at least three data files, with
    * the late rows in the third.
    */
  def readStreamBatched(spark: SparkSession, dir: String, table: String,
                        batchOf: org.apache.spark.sql.Column): DataFrame =
    stageStreamBatched(spark, Graft.normalizeEventTs(
      spark.read.parquet(s"$dir/$table.parquet")), batchOf, table)

  /** [[readStreamBatched]] over an arbitrary batch DataFrame — lets a
    * caller stage a transformed/augmented frame (e.g. events plus a
    * watermark-sentinel row) as an N-file stream directory.
    */
  def stageStreamBatched(spark: SparkSession, src: DataFrame,
                         batchOf: org.apache.spark.sql.Column,
                         tag: String = "df"): DataFrame = {
    val dir = stageBatchedDir(spark, src, batchOf, tag)
    spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
  }

  /** The staging half of [[stageStreamBatched]]: write the N batch files
    * and return the directory. */
  def stageBatchedDir(spark: SparkSession, src: DataFrame,
                      batchOf: org.apache.spark.sql.Column,
                      tag: String): String = {
    val batchDir = Paths.get(scratchDir(s"streamN-$tag"))
    val tagged = src.withColumn("_b", batchOf.cast("int"))
    val nMax = tagged.agg(max(col("_b"))).head().getInt(0)
    val now = System.currentTimeMillis()
    (0 to nMax).foreach { i =>
      val tmp = Paths.get(scratchDir(s"stage-$i"))
      tagged.where(col("_b") === i).drop("_b")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part =
        try listing.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
      val target = batchDir.resolve(s"batch-$i.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(now - (nMax - i) * 120000L))
    }
    batchDir.toString
  }

  /** [[stageStreamBatched]] with the staged directory cached per
    * (key) for the life of the JVM (r18): the bench runs a query
    * several times per process, and the staged input is a pure function
    * of (corpus, batchOf) — re-staging each rep times dirty-page write
    * variance instead of the operator (the s_partition_prune lesson,
    * CoreQueries.cachedSetup). `batchOf` is by-name so cache hits skip
    * its bounded max-probe too. The CHECKPOINT stays fresh per run
    * (each sink helper makes its own), so the stream itself re-executes
    * fully every rep — only the byte-identical input layout is reused.
    */
  def stageStreamBatchedCached(spark: SparkSession, src: DataFrame,
                               tag: String, key: String)
                              (batchOf: => org.apache.spark.sql.Column): DataFrame = {
    val dir = stagedBatchDirs.computeIfAbsent(key,
      _ => stageBatchedDir(spark, src, batchOf, tag))
    spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
  }
  private val stagedBatchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Input-volume probe for a [[stageStreamBatchedCached]] stream: the
    * staged directory's byte size under its cache `key` (0 if not yet
    * staged) — what callers hand to [[withStreamParts]]. */
  def stagedBytes(key: String): Long =
    Option(stagedBatchDirs.get(key)).map(pathBytes).getOrElse(0L)

  /** J6-J8 / A6 through the real streaming engine. A KTable is a
    * changelog, and a table-table join (or table re-aggregation) emits an
    * updated joined snapshot whenever either side upserts (reference:
    * src/main/scala/com/github/hosnimed/TableToTableJoinExample.scala:115-117).
    * Spark mapping (SURVEY §1.1): `foreachBatch` accumulates the changelog
    * per micro-batch and recomputes the latest-per-key `snapshot` —
    * update-by-recompute, so no subtractor is needed and replaced values
    * are never counted. Each batch's snapshot lands in
    * `<snapRoot>/batch-<i>` so mid-stream updates (e.g. a key moving
    * groups on upsert) are observable; the last one is the converged
    * table. Returns (finalSnapshot, snapshotRoot).
    *
    * 100 TB note: the recompute is one shuffle per micro-batch over the
    * accumulated changelog — the right default while snapshots fit a
    * batch job's budget; past that a deployment would compact the
    * changelog (the parquet dir here stands in for a compacted topic)
    * or move the state into transformWithState.
    */
  def runUpsertSnapshots(
      spark: SparkSession,
      src: DataFrame,
      batchOf: org.apache.spark.sql.Column,
      tag: String)(snapshot: DataFrame => DataFrame): (DataFrame, String) = {
    val stream = stageStreamBatched(spark, src, batchOf, tag)
    val changelog = scratchDir(s"changelog-$tag")
    val snapRoot = scratchDir(s"snap-$tag")
    val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val q = stream.writeStream
      .option("checkpointLocation", scratchDir(s"ckpt-upsert-$tag"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        upsertBatch(spark, batch, id, changelog, snapRoot)(snapshot)
        lastBatch.updateAndGet(prev => math.max(prev, id))
        ()
      }
      .start()
    q.awaitTermination()
    q.stop()
    (spark.read.parquet(s"$snapRoot/batch-${lastBatch.get}"), snapRoot)
  }

  /** One upsert step of [[runUpsertSnapshots]], idempotent under
    * foreachBatch's at-least-once contract: the batch lands in an
    * OVERWRITTEN per-batch subdir (a task retry rewrites the same rows,
    * never double-counts them in the accumulated changelog) and the
    * snapshot is recomputed from the full changelog. Package-visible so
    * the retry property is directly testable (ProcessorsSpec replays a
    * batch and asserts the snapshot is unchanged).
    */
  private[graft] def upsertBatch(spark: SparkSession, batch: DataFrame, id: Long,
      changelog: String, snapRoot: String)(snapshot: DataFrame => DataFrame): Unit = {
    batch.write.mode("overwrite").parquet(s"$changelog/batch-$id")
    snapshot(spark.read.option("recursiveFileLookup", "true").parquet(changelog))
      .write.mode("overwrite").parquet(s"$snapRoot/batch-$id")
  }

  /** The pp_ingest chain driven THROUGH the real streaming engine (r10
    * verdict #5): new-batch docs arrive as micro-batches (one staged file
    * per trigger), and each `foreachBatch` invocation runs the library's
    * own ingest stages against the standing corpus AND the cross-batch
    * dedup state:
    *   1. exact dedup — drop content whose md5 is already in the corpus
    *      hash store OR was seen in any earlier micro-batch; keep-min
    *      doc_id within the micro-batch;
    *   2. near-dup gate — (lang, n_chars)-blocked candidates against the
    *      corpus, `Dedup.verifyJaccard` ≥ `jaccardMin` drops;
    *   3. deterministic split assignment for survivors.
    * Cross-batch state is a per-batch parquet changelog of content
    * hashes (the persisted-store shape a deployment would keep in a
    * compacted topic / state table), written OVERWRITE per batch id so
    * foreachBatch's at-least-once retries are idempotent — the
    * [[upsertBatch]] contract, pinned for this path in ProcessorsSpec.
    * When `batchOf` partitions the ingest into ascending doc_id ranges,
    * first-accepted == keep-min and the converged output EQUALS the
    * batch `pp_ingest` chain, so the entry shares its oracle verbatim.
    * Expects columns (doc_id, text, lang, n_chars); returns
    * (doc_id, split).
    *
    * `semantic` (r12, VERDICT r11 #3) composes the SemDeDup stage into
    * the micro-batch chain: (embeddings frame keyed vec_id == doc_id,
    * frozen IVF model, cosine threshold, corpus-side cluster cap). The
    * CORPUS assignment is computed ONCE with the
    * [[graft.ann.Ann.assignClusters]] kernel and persisted (the
    * standing-state shape — at 100 TB each batch joins the persisted
    * assignment, never raw corpus vectors); each micro-batch assigns
    * only its own fresh docs and drops those with a same-cluster corpus
    * match at round(cos, 6) ≥ threshold
    * ([[graft.ann.Ann.crossSemanticDup]]). The gate is CORPUS-scoped by
    * design (a batch doc semantically close to an earlier ACCEPTED
    * batch doc is kept — SemDeDup curates against standing content;
    * cross-batch exact state still drops identical text), which is also
    * what keeps the converged output equal to the batch chain.
    */
  /** BM25 under the real streaming engine — retrieval-stats
    * accumulation at ingest: documents arrive in micro-batches, and
    * each batch contributes ONLY its own per-doc statistics (query-term
    * tf rows + doc lengths, both batch-local aggregations) to per-batch
    * state stores, written idempotently (`b-<id>` overwrite, so an
    * at-least-once retry replaces rather than double-counts). After the
    * stream drains, scores compute from the ACCUMULATED state through
    * `TextFunctions.bm25Score` — literally the batch scoring core, one
    * source of truth. Docs are disjoint across batches, so df/N/tot are
    * additive and the converged state reproduces the batch statistics
    * exactly: the caller shares the batch oracle verbatim.
    */
  def runBm25Stream(spark: SparkSession, docs: DataFrame,
                    batchOf: org.apache.spark.sql.Column,
                    queryTerms: Seq[String], tag: String,
                    storeDirs: Option[scala.collection.mutable.Buffer[(String, String)]] = None): DataFrame = {
    val stream = stageStreamBatched(spark, docs, batchOf, tag)
    val tfRoot = scratchDir(s"bm25-tf-$tag")
    val dlRoot = scratchDir(s"bm25-dl-$tag")
    storeDirs.foreach(b => b ++= Seq("tf" -> tfRoot, "dl" -> dlRoot))
    val q = stream.writeStream
      .option("checkpointLocation", scratchDir(s"ckpt-bm25-$tag"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        val tf = b.where(col("doc_id").isNotNull)
          .select(col("doc_id"),
            explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).cast("long").as("tf"))
          .localCheckpoint() // one tokenize per batch, two consumers below
        tf.groupBy("doc_id").agg(sum("tf").as("dl"))
          .write.mode("overwrite").parquet(s"$dlRoot/b-$id")
        tf.where(col("term").isin(queryTerms: _*))
          .write.mode("overwrite").parquet(s"$tfRoot/b-$id")
        ()
      }
      .start()
    q.awaitTermination()
    q.stop()
    graft.functions.TextFunctions.bm25Score(
      spark.read.option("recursiveFileLookup", "true").parquet(tfRoot),
      spark.read.option("recursiveFileLookup", "true").parquet(dlRoot))
  }

  def runIngestStream(spark: SparkSession, batchDocs: DataFrame, corpus: DataFrame,
                      batchOf: org.apache.spark.sql.Column,
                      jaccardMin: Double, tag: String,
                      semantic: Option[(DataFrame, graft.ann.IvfModel, Double, Int)] = None,
                      storeDirs: Option[scala.collection.mutable.Buffer[(String, String)]] = None,
                      // r18: per-corpus staging cache key (the
                      // stageStreamBatchedCached discipline) — the staged
                      // input is a pure function of (corpus, batchOf), so
                      // bench reps re-run the STREAM, not the byte-identical
                      // stage; None (tests, ad-hoc fixtures) stages fresh
                      stageKey: Option[String] = None): DataFrame = {
    val stream = stageKey match {
      case Some(k) => stageStreamBatchedCached(spark, batchDocs, tag, k)(batchOf)
      case None    => stageStreamBatched(spark, batchDocs, batchOf, tag)
    }
    val seenRoot = scratchDir(s"ingest-seen-$tag")
    // ONE consolidated corpus-side store (r18, VERDICT r17 #7; extends
    // the r17 persist-once discipline): the exact-hash gate and the
    // gram-set verify read the SAME per-doc frame — (vid, toks, h,
    // in_corpus) — written in ONE pass over the corpus∪batch docs
    // instead of a distinct-md5 pass over the corpus PLUS a shingle
    // pass over allDocs. Parquet column pruning keeps each gate's
    // per-batch read to exactly its columns (h+in_corpus for the exact
    // gate, vid+toks for the verify), so consolidating stores costs the
    // joins nothing. Values identical: md5/gram longs roundtrip exactly,
    // and an anti-join is indifferent to the corpus hashes no longer
    // being pre-distinct'd.
    val storeDir = scratchDir(s"ingest-store-$tag")
    storeDirs.foreach(b => b ++= Seq("seen" -> seenRoot, "corpus" -> storeDir))
    def sideStore(side: DataFrame, inCorpus: Boolean): DataFrame =
      side.select(col("doc_id").as("vid"),
        graft.dedup.Dedup.gramSet("text", 1).as("toks"),
        md5(col("text")).as("h"), lit(inCorpus).as("in_corpus"))
    sideStore(corpus, inCorpus = true)
      .unionByName(sideStore(batchDocs, inCorpus = false))
      .write.mode("overwrite").parquet(storeDir)
    // NOT persisted: the corpus side's capped block frame
    // (Dedup.cappedBlockSide) is a pure function of the standing corpus
    // and COULD persist once per run like the gram-set store — measured
    // at sf0.1 with two triggers it LOSES (~2.6 s → ~3.1 s): the extra
    // setup write costs more than two per-trigger corpus windows over a
    // 5k-doc corpus. The helper exists for the many-trigger/large-corpus
    // regime; re-measure before flipping (r18 audit, guide §1.1).
    // semantic stage setup: persist the corpus-side cluster assignment once
    val semState = semantic.map { case (emb, model, thr, cap) =>
      val dir = scratchDir(s"ingest-semasg-$tag")
      graft.ann.Ann.assignClusters(
          emb.join(corpus.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
          "vec_id", "embedding", model)
        .write.mode("overwrite").parquet(dir)
      (dir, emb, model, thr, cap)
    }

    def seenBefore(id: Long): Seq[String] = storesBefore(seenRoot, id)

    // hoisted OUT of foreachBatch (r19, guide §2.4): the consolidated
    // store is written once before the stream starts and never changes,
    // so its file index / schema resolve once per RUN instead of once
    // per trigger (the per-batch `seen` reads stay inside — their dir
    // set depends on the batch id)
    val store = spark.read.parquet(storeDir)
    val corpusHashes = store.where(col("in_corpus")).select(col("h"))
    val storeSets = store.select(col("vid"), col("toks"))
    val q = stream.writeStream
      .option("checkpointLocation", scratchDir(s"ckpt-ingest-$tag"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        val priorDirs = seenBefore(id)
        // ONE hash gate (r19, guide §2.4): corpus hashes and prior-batch
        // hashes drop a batch hash identically, so the two left-anti
        // joins fold into one against their union — one join (and one
        // broadcast build) per trigger instead of two. Duplicates on
        // the anti side are harmless by anti-join semantics.
        val gate =
          if (priorDirs.isEmpty) corpusHashes
          else corpusHashes.unionByName(spark.read.parquet(priorDirs: _*).select(col("h")))
        val hashed = b.withColumn("_h", md5(col("text")))
        // keep-min per batch hash computed ONCE and shared with the
        // store write below (r19): an anti-join on _h keeps all rows of
        // a hash or none, so keep-min-then-gate equals gate-then-keep-min
        // — and the write no longer re-plans the md5 scan + aggregation.
        val batchAgg = hashed.groupBy("_h").agg(min(col("doc_id")).as("doc_id"))
        val keptIds = batchAgg
          .join(gate.withColumnRenamed("h", "_h"), Seq("_h"), "left_anti")
          .select("doc_id")
        val fresh = b.join(keptIds, Seq("doc_id"), "left_semi")
        // guarded cross-corpus blocking (r15): the per-batch candidate
        // stage rides the same default-on capBuckets guard as the batch
        // ingest chain — the corpus side's block membership grows with
        // the standing corpus, the exact quadratic cliff the cap bounds
        val cand = graft.dedup.Dedup.crossBlockedPairs(fresh, corpus, "doc_id",
          Seq("lang" -> col("lang"), "n_chars" -> col("n_chars")))
        val nearDup = graft.dedup.Dedup
          .verifyJaccardWithSets(cand, storeSets)
          .where(col("jaccard") >= jaccardMin)
          .select(col("a").as("doc_id")).distinct()
        val afterJac = fresh.join(nearDup, Seq("doc_id"), "left_anti")
        // semantic gate: assign THIS batch's survivors, join the
        // persisted corpus assignment, drop same-cluster matches
        val surviving = semState match {
          case Some((dir, emb, model, thr, cap)) =>
            val freshAsg = graft.ann.Ann.assignClusters(
              emb.join(afterJac.select(col("doc_id").as("vec_id")),
                Seq("vec_id"), "left_semi"),
              "vec_id", "embedding", model)
            val semDrop = graft.ann.Ann
              .crossSemanticDup(freshAsg, spark.read.parquet(dir), thr, cap)
              .select(col("vec_id").as("doc_id"))
            afterJac.join(semDrop, Seq("doc_id"), "left_anti")
          case None => afterJac
        }
        // ONE write per trigger (r18, the runMediaIngestStream device):
        // the per-batch store carries every distinct batch content hash
        // with its keep-min doc_id and a kept gate flag — the old
        // separate survivors write + seen-hash write were two jobs over
        // the same batch. Later batches read only `h` (parquet column
        // pruning; the groupBy's key set IS the old distinct), and the
        // converged output is the kept-filtered read-back. Values
        // identical: surviving ids are keep-min ids by construction, so
        // the flag left-join is fan-out-free and total. r19: the
        // keep-min aggregation is the SAME batchAgg frame the exact gate
        // consumed, so the plan reuses its exchange instead of
        // re-scanning + re-hashing the batch.
        batchAgg
          .join(surviving.select(col("doc_id")).withColumn("_kept", lit(true)),
            Seq("doc_id"), "left")
          .select(col("_h").as("h"), col("doc_id"),
            coalesce(col("_kept"), lit(false)).as("kept"))
          .write.mode("overwrite").parquet(s"$seenRoot/seen-$id")
        ()
      }
      .start()
    q.awaitTermination()
    q.stop()
    spark.read.option("recursiveFileLookup", "true").parquet(seenRoot)
      .where(col("kept"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.splitAssign(col("doc_id")).as("split"))
  }

  /** Earlier micro-batches' per-batch stores under `root` — strictly
    * BEFORE `id`, so a retried batch never sees its own (overwritten)
    * store. Shared by [[runIngestStream]] and [[runMediaIngestStream]]
    * (review r12: was duplicated in both).
    */
  private def storesBefore(root: String, id: Long): Seq[String] = {
    val rootPath = Paths.get(root)
    if (!Files.exists(rootPath)) Seq.empty
    else {
      val l = Files.list(rootPath)
      try {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        l.forEach { p =>
          val n = p.getFileName.toString
          if (n.startsWith("seen-") && n.stripPrefix("seen-").toLong < id)
            out += p.toString
        }
        out.toSeq
      } finally l.close()
    }
  }

  /** MEDIA ingest with image dedup at the gate, through the real
    * streaming engine: each micro-batch generates its slice's PNG
    * assets, decodes + dHashes them (the full codec path), drops any
    * hash already present in the PERSISTED corpus hash store or in an
    * EARLIER batch's store, and keeps the lowest asset_id per hash
    * within the batch. Cross-batch state is the same
    * at-least-once-idempotent per-batch parquet stores
    * [[runIngestStream]] uses (a retried batch never sees its own
    * overwritten store). With ascending-id micro-batches, first-accepted
    * == keep-min-id globally, so the converged output equals the batch
    * dedup and shares its oracle. At 100 TB: the corpus hash store is
    * 16 bytes/asset and the per-batch joins are hash-equi — decode cost
    * stays inside each batch's scan.
    */
  def runMediaIngestStream(spark: SparkSession, batchDocs: DataFrame,
                           corpusDocs: DataFrame,
                           batchOf: org.apache.spark.sql.Column,
                           tag: String,
                           storeDirs: Option[scala.collection.mutable.Buffer[(String, String)]] = None,
                           // the gate's fingerprint is pluggable (r13):
                           // default = exact dHash; pp_ingest_media_dct
                           // passes the robust DCT pHash with its column
                           // names — the store/join machinery is
                           // fingerprint-agnostic
                           hashFn: DataFrame => DataFrame = null,
                           hiCol: String = "dhash_hi",
                           loCol: String = "dhash_lo",
                           // r18: per-corpus staging cache key, see
                           // runIngestStream
                           stageKey: Option[String] = None): DataFrame = {
    import graft.multimodal.Multimodal
    val hasher: DataFrame => DataFrame =
      if (hashFn != null) hashFn
      else df => Multimodal.imageDHash(Multimodal.syntheticPngAssets(df))
    val stream = stageKey match {
      case Some(k) => stageStreamBatchedCached(spark, batchDocs, tag, k)(batchOf)
      case None    => stageStreamBatched(spark, batchDocs, batchOf, tag)
    }
    val seenRoot = scratchDir(s"mingest-seen-$tag")
    val corpusHashDir = scratchDir(s"mingest-corpus-$tag")
    storeDirs.foreach(b => b ++= Seq("seen" -> seenRoot, "corpus" -> corpusHashDir))
    hasher(corpusDocs)
      .select(hiCol, loCol).distinct()
      .write.mode("overwrite").parquet(corpusHashDir)
    // hoisted OUT of foreachBatch (r19): the corpus hash store never
    // changes after the pre-stream write, so its file index / schema
    // resolve once per run instead of once per trigger
    val corpusHashes = spark.read.parquet(corpusHashDir)
    val q = stream.writeStream
      .option("checkpointLocation", scratchDir(s"ckpt-mingest-$tag"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        val priorDirs = storesBefore(seenRoot, id)
        // ONE write per trigger (r18, guide §2.4): the old out-store
        // (gate survivors) + seen-store (all batch hashes) pair ran two
        // jobs over a persisted decode; the unified per-batch store
        // carries every distinct batch hash with its keep-min asset_id
        // and a `kept` gate flag, so the decode+dHash scan runs ONCE
        // per trigger with no persist, later batches read (hi, lo)
        // through parquet pruning (exactly the old seen rows — the
        // groupBy's key set IS the old distinct), and the converged
        // output is the kept-filtered read-back. Values identical: all
        // rows of a hash survive or none, so min(asset_id) before the
        // gate equals min over survivors. r19: corpus + prior-batch
        // hashes gate identically, so the two flag left-joins fold into
        // ONE against their DISTINCT union — one join per trigger, and
        // the distinct restores the fan-out-free invariant the r18 form
        // lost when a hash recurred across prior stores (ADVICE r18: a
        // kept=false row duplicated in the store per recurrence,
        // growing the stores; output values were and stay identical).
        val seenAll =
          if (priorDirs.isEmpty) corpusHashes
          else corpusHashes.unionByName(
            spark.read.parquet(priorDirs: _*).select(hiCol, loCol)).distinct()
        hasher(b)
          .groupBy(hiCol, loCol).agg(min(col("asset_id")).as("asset_id"))
          .join(seenAll.withColumn("_in_seen", lit(true)),
            Seq(hiCol, loCol), "left")
          .select(col("asset_id"), col(hiCol), col(loCol),
            col("_in_seen").isNull.as("kept"))
          .write.mode("overwrite").parquet(s"$seenRoot/seen-$id")
        ()
      }
      .start()
    q.awaitTermination()
    q.stop()
    spark.read.option("recursiveFileLookup", "true").parquet(seenRoot)
      .where(col("kept"))
      .select("asset_id", hiCol, loCol)
  }

  /** Run `transform` over a streaming read of `table`, aggregate to a
    * named in-memory sink in complete mode, checkpointed (X4), and return
    * the final result table. `confs` lets callers pick the state-store
    * flavor (X6), e.g. the RocksDB provider, for this run only
    * ([[withConfs]]).
    */
  def runCompleteAggToMemory(
      spark: SparkSession,
      dir: String,
      table: String,
      queryName: String,
      transform: DataFrame => DataFrame,
      confs: Map[String, String] = Map.empty): DataFrame = {
    withConfs(spark, confs) {
      withStreamParts(spark, pathBytes(s"$dir/$table.parquet")) {
        drainToMemory(spark, transform(readStreamParquet(spark, dir, table)), queryName,
          "complete", scratchDir(s"ckpt-$queryName"))
      }
    }
  }

  /** Drain the streaming frame `out` into the in-memory sink `queryName`
    * (`AvailableNow`, checkpointed at `ckpt`) and return the sink's table.
    */
  private def drainToMemory(spark: SparkSession, out: DataFrame, queryName: String,
                            mode: String, ckpt: String): DataFrame = {
    val q = out.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop() // T5: graceful shutdown (idempotent after AvailableNow drains)
    spark.table(queryName)
  }

  /** Run an already-built streaming DataFrame to a named in-memory sink in
    * APPEND mode — the output mode of stream-stream joins and other
    * append-only pipelines (complete mode is for aggregations).
    */
  def runAppendToMemory(spark: SparkSession, queryName: String, out: DataFrame,
                        inputBytes: Long = -1L): DataFrame =
    withStreamParts(spark, inputBytes) {
      drainToMemory(spark, out, queryName, "append", scratchDir(s"ckpt-$queryName"))
    }

  /** Run an already-built streaming DataFrame to a named in-memory sink
    * in UPDATE mode — the output mode of flatMapGroupsWithState
    * processors; the sink accumulates every per-batch snapshot, so a
    * caller whose state fields are monotone reduces them to the
    * converged row per key afterwards.
    */
  def runUpdateToMemory(spark: SparkSession, queryName: String, out: DataFrame,
                        inputBytes: Long = -1L): DataFrame =
    withStreamParts(spark, inputBytes) {
      drainToMemory(spark, out, queryName, "update", scratchDir(s"ckpt-$queryName"))
    }

  /** T4: `streams.cleanUp()` — run the aggregation twice with the
    * checkpoint deleted in between; a reset state store must reproduce
    * identical results from scratch.
    */
  def runWithStateCleanup(
      spark: SparkSession,
      dir: String,
      table: String,
      queryName: String,
      transform: DataFrame => DataFrame): DataFrame = {
    val ckpt = scratchDir(s"ckpt-$queryName")
    def once(name: String): DataFrame = withStreamParts(
        spark, pathBytes(s"$dir/$table.parquet")) {
      drainToMemory(spark, transform(readStreamParquet(spark, dir, table)), name,
        "complete", ckpt)
    }
    once(s"${queryName}_first").write.mode("overwrite").format("noop").save()
    // cleanUp: wipe local state, then recompute from the source
    deleteRecursively(Paths.get(ckpt))
    once(queryName)
  }

  /** X10: ForeachWriter with the reference's init/process/close lifecycle
    * (ConfluentKStreamsDemo.java:37-50) — writes one CSV line per record
    * into `outDir` (one file per partition/epoch; local-mode safe).
    */
  final class LineWriter(outDir: String) extends ForeachWriter[Row] {
    private var writer: java.io.PrintWriter = _
    override def open(partitionId: Long, epochId: Long): Boolean = { // init
      Files.createDirectories(Paths.get(outDir))
      writer = new java.io.PrintWriter(s"$outDir/p${partitionId}_e$epochId.csv")
      true
    }
    override def process(row: Row): Unit = // process
      writer.println((0 until row.length).map(i => String.valueOf(row.get(i))).mkString(","))
    override def close(errorOrNull: Throwable): Unit = // close
      if (writer != null) writer.close()
  }

  /** Run a streaming aggregation through the ForeachWriter sink and read
    * the emitted lines back as a DataFrame of strings.
    */
  def runForeachSink(
      spark: SparkSession,
      dir: String,
      table: String,
      transform: DataFrame => DataFrame): DataFrame = {
    val outDir = scratchDir("foreach-out")
    val q = transform(readStreamParquet(spark, dir, table)).writeStream
      .outputMode("complete")
      .option("checkpointLocation", scratchDir("ckpt-foreach"))
      .trigger(Trigger.AvailableNow())
      .foreach(new LineWriter(outDir))
      .start()
    q.awaitTermination()
    spark.read.text(outDir).withColumnRenamed("value", "line")
  }
}
