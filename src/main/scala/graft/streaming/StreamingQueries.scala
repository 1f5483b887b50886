package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.Graft
import graft.ProbeUtil.{deleteRecursively, scratchDir}
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The streaming engine under graft's streaming entries (SURVEY.md §2.1
  * S1/S3, §2.7 X4-X6/X10, §2.8 T3-T5): stream reads of corpus tables in
  * their canonical form, staged micro-batch inputs, and the drains that
  * run a streaming query to completion with `Trigger.AvailableNow` —
  * append, complete and update memory sinks, and the one foreachBatch
  * drain under the per-batch store drivers (upsert, BM25 stats, the
  * cross-batch dedup gate) — so the batch-style correctness gate can hash the
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
    * never needs a rank. The 1-row agg is the sanctioned bounded-scalar
    * driver read; the drivers take the column by name, so a staging-cache
    * hit skips it. An empty frame has no max and stages no file whatever
    * the column says ([[stageBatchedDir]]).
    */
  def harnessBatches(df: DataFrame, idCol: String, n: Int = 3): Column = {
    val maxRow = df.agg(max(idCol)).head()
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    least(floor(col(idCol) * n / (maxId + 1)), lit(n - 1)).cast("int")
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
    * (none for an empty `src`) and return the directory. */
  def stageBatchedDir(spark: SparkSession, src: DataFrame, batchOf: Column,
                      tag: String): String = {
    val batchDir = Paths.get(scratchDir(s"streamN-$tag"))
    val tagged = src.withColumn("_b", batchOf.cast("int"))
    val top = tagged.agg(max(col("_b"))).head()
    val nMax = if (top.isNullAt(0)) -1 else top.getInt(0)
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

  /** The one `foreachBatch` drain behind the per-batch store drivers
    * ([[runUpsertSnapshots]], [[runBm25Stream]], [[runGate]]): stage
    * `src` as micro-batches by `batchOf` (by name, so a staging-cache hit
    * under `stageKey` skips its probe), run `step(batch, id)` on each with
    * `AvailableNow`, checkpointed under `root`, then stop. A step keeps
    * its state in per-batch stores under the same `root`
    * ([[writeStore]]); an empty `src` stages no file and runs no step.
    */
  private def drain(spark: SparkSession, src: DataFrame, batchOf: => Column, root: String,
                    stageKey: Option[String] = None)(step: (DataFrame, Long) => Unit): Unit = {
    val stream = stageKey match {
      case Some(k) => stageStreamBatchedCached(spark, src, "drain", k)(batchOf)
      case None => stageStreamBatched(spark, src, batchOf, "drain")
    }
    val q = stream.writeStream
      .option("checkpointLocation", s"$root/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(step)
      .start()
    q.awaitTermination()
    q.stop()
  }

  /** Batch `id`'s part of store `name` under a drain's `root`, written
    * OVERWRITE: foreachBatch is at-least-once, and a retried batch
    * replaces its part instead of adding its rows twice. */
  private def writeStore(df: DataFrame, root: String, name: String, id: Long): Unit =
    df.write.mode("overwrite").parquet(s"$root/$name/batch-$id")

  /** Every batch's part of store `name` under `root`, read as `schema`
    * (empty, with that schema, when no batch ran). */
  private def readStore(spark: SparkSession, root: String, name: String,
                        schema: StructType): DataFrame = {
    val dir = Files.createDirectories(Paths.get(root, name))
    spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(dir.toString)
  }

  /** The parts of store `name` that batches strictly BEFORE `id` wrote,
    * so a retried batch never reads its own overwritten part. */
  private def partsBefore(root: String, name: String, id: Long): Seq[String] = {
    val dir = Paths.get(root, name)
    if (!Files.exists(dir)) Seq.empty
    else {
      val l = Files.list(dir)
      try l.iterator().asScala.toList.map(_.getFileName.toString)
        .filter(n => n.startsWith("batch-") && n.stripPrefix("batch-").toLong < id)
        .map(n => dir.resolve(n).toString)
      finally l.close()
    }
  }

  /** J6-J8 / A6 through the real streaming engine. A KTable is a
    * changelog, and a table-table join (or table re-aggregation) emits an
    * updated joined snapshot whenever either side upserts (reference:
    * src/main/scala/com/github/hosnimed/TableToTableJoinExample.scala:115-117).
    * Spark mapping (SURVEY §1.1): `foreachBatch` accumulates the changelog
    * per micro-batch and recomputes the latest-per-key `snapshot` —
    * update-by-recompute, so no subtractor is needed and replaced values
    * are never counted. Each batch's snapshot lands in
    * `<root>/snapshot/batch-<i>` so mid-stream updates (e.g. a key moving
    * groups on upsert) are observable; the last one is the converged
    * table. Returns (finalSnapshot, snapshotRoot).
    *
    * 100 TB note: the recompute is one shuffle per micro-batch over the
    * accumulated changelog — the right default while snapshots fit a
    * batch job's budget; past that a deployment would compact the
    * changelog (the parquet dir here stands in for a compacted topic)
    * or move the state into transformWithState.
    */
  def runUpsertSnapshots(spark: SparkSession, src: DataFrame, batchOf: => Column, root: String)
                        (snapshot: DataFrame => DataFrame): (DataFrame, String) = {
    val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    drain(spark, src, batchOf, root) { (batch, id) =>
      upsertBatch(spark, batch, id, root)(snapshot)
      lastBatch.updateAndGet(prev => math.max(prev, id))
    }
    val snapRoot = s"$root/snapshot"
    val last = lastBatch.get
    (if (last < 0) snapshot(readStore(spark, root, "changelog", src.schema))
     else spark.read.parquet(s"$snapRoot/batch-$last"), snapRoot)
  }

  /** One upsert step of [[runUpsertSnapshots]], idempotent under
    * foreachBatch's at-least-once contract: the batch lands in an
    * OVERWRITTEN per-batch changelog part (a retry rewrites the same
    * rows, never double-counts them) and the snapshot is recomputed from
    * the full changelog. Package-visible so the retry property is
    * directly testable (ProcessorsSpec replays a batch and asserts the
    * snapshot is unchanged).
    */
  private[graft] def upsertBatch(spark: SparkSession, batch: DataFrame, id: Long, root: String)
                                (snapshot: DataFrame => DataFrame): Unit = {
    writeStore(batch, root, "changelog", id)
    writeStore(snapshot(readStore(spark, root, "changelog", batch.schema)), root, "snapshot", id)
  }

  /** BM25 under the real streaming engine — retrieval-stats
    * accumulation at ingest: documents arrive in micro-batches, and
    * each batch contributes ONLY its own per-doc statistics (query-term
    * tf rows + doc lengths, both batch-local aggregations) to the `tf`
    * and `dl` stores. After the stream drains, scores compute from the
    * ACCUMULATED state through `TextFunctions.bm25Score` — literally the
    * batch scoring core, one source of truth. Docs are disjoint across
    * batches, so df/N/tot are additive and the converged state
    * reproduces the batch statistics exactly: the caller shares the
    * batch oracle verbatim.
    */
  def runBm25Stream(spark: SparkSession, docs: DataFrame, batchOf: => Column,
                    queryTerms: Seq[String], root: String): DataFrame = {
    def termFreqs(b: DataFrame) = b.where(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("long").as("tf"))
    def docLengths(tf: DataFrame) = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    drain(spark, docs, batchOf, root) { (b, id) =>
      // one tokenize per batch for both stores; a lost cached block
      // recomputes from the micro-batch
      val tf = termFreqs(b).persist()
      try {
        writeStore(docLengths(tf), root, "dl", id)
        writeStore(tf.where(col("term").isin(queryTerms: _*)), root, "tf", id)
      } finally tf.unpersist()
    }
    val tf = termFreqs(docs)
    TextFunctions.bm25Score(readStore(spark, root, "tf", tf.schema),
      readStore(spark, root, "dl", docLengths(tf).schema))
  }

  /** A stage behind [[runGate]]'s key gate: `corpusKeys` are the
    * standing corpus's gate keys, read from a store the caller wrote once
    * (in place of the gate's own corpus store), and `keep` maps the
    * micro-batch rows whose key passed to the rows that survive. */
  final case class Refine(corpusKeys: DataFrame, keep: DataFrame => DataFrame)

  /** First-accepted, keep-min dedup across micro-batches, through the
    * real streaming engine. `fingerprint` maps rows to (id, key
    * columns…); ids are unique per row. The corpus's keys are computed
    * ONCE per run into `<root>/corpus` (or come from `refine`). Each
    * micro-batch then runs one fingerprint pass, keeps the lowest id per
    * key, drops every key already in the corpus or in an earlier batch's
    * `seen` part, runs `refine` on the survivors' batch rows (the refine
    * sees the batch's own columns, so the fingerprint's id must be one of
    * them), and writes ONE part: every distinct batch key with its
    * keep-min id and a `kept` flag.
    * Returns the kept (id, key columns…) of all parts.
    *
    * Idempotence: a part is overwritten by batch id and a batch reads
    * only the parts of batches strictly before its own, so a retry of
    * foreachBatch's at-least-once delivery rewrites the same part from
    * the same inputs. Batch-chain equality: when `batchOf` assigns
    * ascending, disjoint id ranges, first-accepted == keep-min over the
    * whole batch, so the converged output equals the batch chain (keep-
    * min per key, anti-joined against the corpus, then `refine`) and the
    * entries built on it share their batch entry's oracle. The refine
    * gates against the corpus only, never against earlier accepted batch
    * rows, which keeps that equality.
    */
  def runGate(spark: SparkSession, batch: DataFrame, corpus: DataFrame, batchOf: => Column,
              root: String, stageKey: Option[String] = None, refine: Option[Refine] = None)
             (fingerprint: DataFrame => DataFrame): DataFrame = {
    val fp = fingerprint(batch)
    val id = fp.columns.head
    val keys = fp.columns.toSeq.tail
    val seenSchema = fp.schema.add("kept", "boolean")
    val corpusKeys = refine.fold {
      fingerprint(corpus).select(keys.map(col): _*).distinct()
        .write.mode("overwrite").parquet(s"$root/corpus")
      spark.read.parquet(s"$root/corpus")
    }(_.corpusKeys)
    val noId = lit(null).cast(fp.schema(id).dataType).as(id)
    drain(spark, batch, batchOf, root, stageKey) { (b, bid) =>
      val prior = partsBefore(root, "seen", bid)
      val seen =
        if (prior.isEmpty) corpusKeys
        else corpusKeys.unionByName(
          spark.read.schema(seenSchema).parquet(prior: _*).select(keys.map(col): _*))
      // ONE aggregation over the batch's fingerprints (_src 0) and the
      // seen keys (_src 1) gives each batch key (_lo 0) its keep-min id
      // and whether the corpus or an earlier batch holds it (_hi 1). An
      // anti-join of a keep-min frame against the seen keys would be
      // pushed below its aggregation, and the part's second branch would
      // re-run the fingerprint.
      val gated = fingerprint(b).select(keys.map(col) :+ col(id) :+ lit(0).as("_src"): _*)
        .unionByName(seen.select(keys.map(col) :+ noId :+ lit(1).as("_src"): _*))
        .groupBy(keys.map(col): _*)
        .agg(min(col(id)).as(id), min("_src").as("_lo"), max("_src").as("_hi"))
        .where(col("_lo") === 0)
      val passed = col("_hi") === 0
      val part = refine.fold(gated.withColumn("kept", passed)) { r =>
        val fresh = b.join(gated.where(passed).select(id), Seq(id), "left_semi")
        gated.join(r.keep(fresh).select(col(id), lit(true).as("_kept")), Seq(id), "left")
          .withColumn("kept", coalesce(col("_kept"), lit(false)))
      }
      writeStore(part.select(col(id) +: keys.map(col) :+ col("kept"): _*), root, "seen", bid)
    }
    readStore(spark, root, "seen", seenSchema).where(col("kept")).select(id, keys: _*)
  }

  /** The pp_ingest chain on [[runGate]]: exact content dedup (md5 keys)
    * against the corpus and earlier micro-batches, then the refine — the
    * near-dup gate ((lang, n_chars)-blocked candidates against the
    * corpus, `Dedup.verifyJaccardWithSets` ≥ `jaccardMin` drops) and,
    * with `semantic` (embeddings keyed vec_id == doc_id, frozen IVF
    * model, cosine threshold, corpus-side cluster cap), the SemDeDup
    * gate: the CORPUS assignment is computed ONCE
    * ([[graft.ann.Ann.assignClusters]]) and persisted, and each
    * micro-batch assigns only its own fresh docs and drops those with a
    * same-cluster corpus match at round(cos, 6) ≥ threshold
    * ([[graft.ann.Ann.crossSemanticDup]]). Both refine gates are
    * CORPUS-scoped: a batch doc close to an earlier ACCEPTED batch doc is
    * kept (SemDeDup curates against standing content; cross-batch exact
    * state still drops identical text). Expects columns (doc_id, text,
    * lang, n_chars); returns (doc_id, split).
    */
  def runIngestStream(spark: SparkSession, batchDocs: DataFrame, corpus: DataFrame,
                      batchOf: => Column, jaccardMin: Double, root: String,
                      semantic: Option[(DataFrame, graft.ann.IvfModel, Double, Int)] = None,
                      stageKey: Option[String] = None): DataFrame = {
    // ONE consolidated corpus-side store, written once: the exact-hash
    // gate and the gram-set verify read the SAME per-doc frame — (vid,
    // toks, h, in_corpus) over corpus ∪ batch docs. Parquet column
    // pruning keeps each gate's per-batch read to exactly its columns
    // (h + in_corpus for the exact gate, vid + toks for the verify).
    def sideStore(side: DataFrame, inCorpus: Boolean): DataFrame =
      side.select(col("doc_id").as("vid"),
        graft.dedup.Dedup.gramSet("text", 1).as("toks"),
        md5(col("text")).as("h"), lit(inCorpus).as("in_corpus"))
    sideStore(corpus, inCorpus = true)
      .unionByName(sideStore(batchDocs, inCorpus = false))
      .write.mode("overwrite").parquet(s"$root/corpus")
    val store = spark.read.parquet(s"$root/corpus")
    val storeSets = store.select(col("vid"), col("toks"))
    // NOT persisted: the corpus side's capped block frame
    // (Dedup.cappedBlockSide) is a pure function of the standing corpus
    // and COULD persist once per run like the gram-set store — measured
    // at sf0.1 with two triggers it LOSES (~2.6 s → ~3.1 s): the extra
    // setup write costs more than two per-trigger corpus windows over a
    // 5k-doc corpus. The helper exists for the many-trigger/large-corpus
    // regime; re-measure before flipping (r18 audit, guide §1.1).
    val semState = semantic.map { case (emb, model, thr, cap) =>
      val dir = s"$root/semasg"
      graft.ann.Ann.assignClusters(
          emb.join(corpus.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
          "vec_id", "embedding", model)
        .write.mode("overwrite").parquet(dir)
      (spark.read.parquet(dir), emb, model, thr, cap)
    }
    def keep(fresh: DataFrame): DataFrame = {
      // guarded cross-corpus blocking (r15): the same default-on
      // capBuckets guard as the batch ingest chain — the corpus side's
      // block membership grows with the standing corpus
      val cand = graft.dedup.Dedup.crossBlockedPairs(fresh, corpus, "doc_id",
        Seq("lang" -> col("lang"), "n_chars" -> col("n_chars")))
      val nearDup = graft.dedup.Dedup.verifyJaccardWithSets(cand, storeSets)
        .where(col("jaccard") >= jaccardMin)
        .select(col("a").as("doc_id")).distinct()
      val afterJac = fresh.join(nearDup, Seq("doc_id"), "left_anti")
      semState.fold(afterJac) { case (corpusAsg, emb, model, thr, cap) =>
        val freshAsg = graft.ann.Ann.assignClusters(
          emb.join(afterJac.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
          "vec_id", "embedding", model)
        afterJac.join(graft.ann.Ann.crossSemanticDup(freshAsg, corpusAsg, thr, cap)
          .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")
      }
    }
    runGate(spark, batchDocs, corpus, batchOf, root, stageKey,
        Some(Refine(store.where(col("in_corpus")).select(col("h")), keep)))(
        b => b.select(col("doc_id"), md5(col("text")).as("h")))
      .select(col("doc_id"), TextFunctions.splitAssign(col("doc_id")).as("split"))
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
