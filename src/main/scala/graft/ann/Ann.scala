package graft.ann

import graft.functions.VectorFunctions._
import graft.functions.{IvfAssign, IvfNearestLists, IvfPqAdc, IvfPqEncode, IvfPqLut, IvfPqProbes, KernelPayload, PqAdc, PqEncode, PqLut}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Trained IVF coarse quantizer: `nLists` unit-norm centroids. Training
  * ([[Ann.trainIvf]]) is deterministic, so a frozen model is replayable
  * bit-for-bit by an external oracle (graft.queries.AnnOracleSql).
  */
final case class IvfModel(centroids: Array[Array[Double]])

/** Trained product quantizer: `m` sub-codebooks (each 2^bits centroids
  * over one equal subspace slice) and the slice `bounds` (length m+1).
  */
final case class PqModel(books: Array[Array[Array[Double]]], bounds: Array[Int]) {
  def m: Int = books.length
  def kCent: Int = books(0).length
}

/** Trained IVFADC model: coarse centroids plus RESIDUAL sub-codebooks. */
final case class IvfPqModel(centroids: Array[Array[Double]],
                            books: Array[Array[Array[Double]]], bounds: Array[Int]) {
  def kCent: Int = books(0).length
}

/** Approximate nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k of a small query set against
  *    the corpus: the query side broadcasts, similarity is a codegen'd
  *    higher-order expression over the corpus scan, and top-k is a
  *    per-query window. Correctness baseline and the right tool whenever
  *    |queries| is small (the corpus streams once, never shuffles).
  *  - [[lshTopK]] — signed-random-projection LSH: corpus and queries
  *    bucket by hyperplane sign pattern; candidates come from the query's
  *    bucket (plus optional 1-bit-flip probes), ranked in-bucket. Shuffle
  *    is on bucket id; per-task state is one bucket — the 100 TB path.
  */
object Ann {

  /** Build a model-kernel expression over `v.cast("array<double>")` and
    * wrap it as a Column — the construction path for the ANN quantizer
    * kernels (graft.functions.AnnKernels), whose broadcast model payload
    * cannot ride the SQL function registry. Package-visible:
    * AnnKernelSpec builds the same columns through this one helper.
    */
  private[graft] def kernelCol(
      build: org.apache.spark.sql.catalyst.expressions.Expression => org.apache.spark.sql.catalyst.expressions.Expression,
      v: Column): Column =
    ColumnBridge.column(build(ColumnBridge.expression(v.cast("array<double>"))))

  /** The IVF kernels' model: each centroid with its precomputed norm. */
  private[graft] def centroidPayload(spark: SparkSession, centroids: Array[Array[Double]])
      : KernelPayload[Array[(Array[Double], Double)]] =
    KernelPayload(spark.sparkContext, centroids.map(c => (c, math.sqrt(c.map(x => x * x).sum))))

  /** Exact top-k neighbors for each query row (excluding self-matches).
    * Output: query_id, neighbor_id, rank, cosine (rounded 6dp).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String,
                     vec: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(id).as("query_id"), col(vec).as("qv")))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
    val scored = c.crossJoin(q) // broadcast nested loop over the small query set
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosineNative("qv", "cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** FILTERED exact top-k (r15): [[bruteForceTopK]] under a per-query
    * metadata predicate — each query retrieves only among corpus rows
    * whose `filterCols` values EQUAL its own (label-scoped / tenant-
    * scoped retrieval, the production shape where candidates must share
    * the query's domain). The filter is an equi-JOIN key, not a
    * post-rank WHERE: Spark broadcasts the small query set and the
    * filter prunes candidates BEFORE the dot product, so per-query work
    * is the matching partition of the corpus, never all of it — exactly
    * how a partitioned/namespaced vector index behaves at scale. Rank
    * ties break on neighbor id (deterministic, oracle-replayable).
    */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, id: String,
                   vec: String, filterCols: Seq[String], k: Int): DataFrame = {
    val q = broadcast(queries.select(
      (filterCols.map(col) :+ col(id).as("query_id")) :+ col(vec).as("qv"): _*))
    val c = corpus.select(
      (filterCols.map(col) :+ col(id).as("neighbor_id")) :+ col(vec).as("cv"): _*)
    val scored = c.join(q, filterCols) // broadcast hash join on the filter keys
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosineNative("qv", "cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id") +: filterCols.map(col) :+ col("neighbor_id") :+
        col("rank") :+ round(col("cos"), 6).as("cos"): _*)
  }

  /** Embedding-cosine near-duplicate pairs: SRP-bucket the corpus, pair
    * within buckets (plus 1-bit multiprobe on the pairing side), verify
    * cosine ≥ `threshold`. Same scale shape as text LSH dedup — shuffle
    * on bucket id, no all-pairs product.
    */
  def cosinePairs(corpus: DataFrame, id: String, vec: String,
                  threshold: Double, nBits: Int = 8, probeBits: Int = 2,
                  maxBucket: Int = 1000): DataFrame = {
    val base0 = corpus.select(col(id).as("vid"), col(vec).as("v"),
      srpBucketNative(vec, nBits).as("b0"))
    // Hot-bucket guard (default ON at 1000; maxBucket = 0 is the
    // explicit opt-out) against the LSH skew cliff (a mega-cluster of
    // near-identical embeddings shares one SRP bucket → k²/2 verify pairs
    // on one task). Unlike minhashPairs — where a doc has 16 bands and
    // other bands still surface it — an SRP vector has ONE base bucket,
    // so the cap applies only to the r (base-bucket) side: pairs WITHIN
    // an oversized bucket are dropped (bounded loss — byte-identical
    // content is exact dedup's job upstream), but every capped vector
    // still PROBES into healthy neighboring buckets, so its cross-bucket
    // matches survive. Worst-case join-group size is then
    // (cluster size) × maxBucket — linear in the cluster, not quadratic.
    val r0 = graft.dedup.Dedup.capBuckets(base0, Seq("b0"), maxBucket, "cosinePairs")
    val probes = array((lit(0) +: (0 until probeBits).map(b => lit(1 << b))): _*)
    val l = base0.select(col("vid").as("a"), col("v").as("va"),
      explode(transform(probes, f => col("b0").bitwiseXOR(f))).as("bucket"))
    val r = r0.select(col("vid").as("b"), col("v").as("vb"), col("b0").as("bucket"))
    // Both orientations are kept and canonicalized with least/greatest
    // rather than filtered with a<b: under the cap, a pair whose
    // hot-bucket member has the LARGER id survives only as (hot, healthy)
    // — the healthy vector probing INTO the hot bucket finds nothing (the
    // hot side was semi-joined away), so an a<b filter would silently
    // drop it whenever hot-id > healthy-id. Canonicalizing keeps every
    // orientation that exists. The distinct() this requires runs AFTER
    // the threshold filter, so it shuffles only the final (small) pair
    // set — each unordered pair appears at most twice (once per
    // orientation: r keys by its ONE true bucket and l's probe set is
    // distinct values, so an orientation matches at most one bucket).
    val paired = l.join(r, Seq("bucket")).where(col("a") =!= col("b"))
    if (maxBucket <= 0)
      // uncapped opt-out: every unordered pair appears exactly twice
      // (once per orientation), so the single-orientation a<b filter is
      // exact and skips the canonicalizing distinct's extra shuffle
      paired.where(col("a") < col("b"))
        .select(col("a"), col("b"),
          round(cosineNative("va", "vb"), 6).as("cos"))
        .where(col("cos") >= threshold)
    else
      paired
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"),
          round(cosineNative("va", "vb"), 6).as("cos"))
        .where(col("cos") >= threshold)
        .distinct()
  }

  /** Cross-corpus embedding near-dup: which new-batch vectors are near
    * (cosine ≥ threshold) something already in the corpus — the
    * incremental-ingestion form of [[cosinePairs]]. Multiprobe happens on
    * the BATCH side (typically the small side), the corpus buckets once;
    * join is on bucket id only, never an all-pairs product.
    */
  def crossCosinePairs(batch: DataFrame, corpus: DataFrame, id: String, vec: String,
                       threshold: Double, nBits: Int = 8, probeBits: Int = 2,
                       maxBucket: Int = 1000): DataFrame = {
    val probes = array((lit(0) +: (0 until probeBits).map(b => lit(1 << b))): _*)
    val l = batch.select(col(id).as("batch_id"), col(vec).as("va"),
        srpBucketNative(vec, nBits).as("b0"))
      .select(col("batch_id"), col("va"),
        explode(transform(probes, f => col("b0").bitwiseXOR(f))).as("bucket"))
    val r0 = corpus.select(col(id).as("corpus_id"), col(vec).as("vb"),
      srpBucketNative(vec, nBits).as("bucket"))
    // corpus-side hot-bucket guard (same r-side-only contract as
    // cosinePairs(maxBucket)): an oversized corpus bucket is dropped, so
    // one batch probe can't pull a mega-cluster into a single task;
    // batch probes into healthy buckets are unaffected
    val r = graft.dedup.Dedup.capBuckets(r0, Seq("bucket"), maxBucket, "crossCosinePairs")
    // pairs are unique without a distinct(): corpus rows key by their one
    // bucket, batch probes are distinct bucket values
    l.join(r, Seq("bucket"))
      .select(col("batch_id"), col("corpus_id"),
        round(cosineNative("va", "vb"), 6).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): a frozen spherical-k-means coarse quantizer
    * ([[trainIvf]]) assigns every vector to a cluster, candidate pairs
    * are generated ONLY within a cluster, and of any pair with cosine ≥
    * `threshold` the member with LOWER similarity to its centroid is
    * kept — the paper's keeper rule (retain the cluster's less
    * prototypical example), ties by lower id. Output: one row per input
    * vector with a non-null embedding — (vec_id, cluster, keep); null
    * vectors are excluded (they have no position to compare, and the
    * oracle applies the same filter).
    *
    * This is the data-adaptive complement to [[cosinePairs]]: SRP
    * buckets are fixed hyperplane cells, k-means cells follow the
    * embedding distribution, so clustered corpora get far better
    * recall-per-candidate at the same candidate budget — the reason
    * SemDeDup scales to web corpora.
    *
    * Scale shape: training is bounded ([[boundedSample]] inside
    * [[trainIvf]]); the centroid matrix ships once as a broadcast;
    * assignment is one scan; the within-cluster pair join shuffles on
    * cluster id ONCE and both sides reuse that single exchange (the
    * assignment scan and its UDF run once — PlanSpec-pinned); the
    * default-ON `maxCluster` window-count guard rides the same exchange
    * and bounds the per-cluster quadratic verify (oversized clusters
    * drop whole, observable via the `observe` metrics, same contract as
    * every capped pair source). At 100 TB, nLists grows ~√N so clusters
    * stay bounded; the cap is the backstop for pathological mega-
    * clusters. Deterministic end-to-end — the frozen model replays in
    * DuckDB (graft.queries.AnnOracleSql.semanticDedup).
    */
  def semanticDedup(corpus: DataFrame, id: String, vec: String, threshold: Double,
                    model: IvfModel, maxCluster: Int = 2000): DataFrame = {
    val spark = corpus.sparkSession
    val bcCent = centroidPayload(spark, model.centroids)

    // one explicit cluster exchange BOTH pair-join sides hang off: the l
    // projection and the capped r projection keep the identical column
    // set, so column pruning cannot specialize the subtrees apart and
    // ReuseExchange keeps the scan + assignment kernel single-run.
    // Assignment (argmax-cosine cluster + that cosine, ties to the lower
    // cluster id — the exact ivfTopK contract) runs as the codegen'd
    // graft.functions.IvfAssign kernel; AnnUdfWitness.ivfAssign is the
    // retired UDF form, bit-equality pinned in AnnKernelSpec.
    val asg = corpus
      .select(col(id).as("vec_id"), col(vec).as("v"))
      .where(col("v").isNotNull)
      .withColumn("_a", kernelCol(IvfAssign(_, bcCent), col("v")))
      .select(col("vec_id"), col("v"), col("_a._1").as("cluster"), col("_a._2").as("cdot"))
      .repartition(col("cluster"))
    val l = asg
    val r = graft.dedup.Dedup.capBuckets(asg, Seq("cluster"), maxCluster, "semanticDedup")
      .select(col("vec_id").as("uid"), col("v").as("vb"),
        col("cluster").as("_rc"), col("cdot").as("cb"))

    // LEFT join: l drives (every vector reaches the output exactly once
    // after the keep agg), r supplies potential dominators — u dominates
    // v iff same cluster, cosine ≥ threshold, and (u.cdot, u.id) <
    // (v.cdot, v.id). Cap on the r side only: an oversized cluster
    // loses its dominators, so its members are all kept (bounded loss,
    // observable) rather than funneled into one quadratic task.
    val dominated = l.join(r,
      col("cluster") === col("_rc") && col("uid") =!= col("vec_id") &&
        (col("cb") < col("cdot") ||
          (col("cb") === col("cdot") && col("uid") < col("vec_id"))) &&
        round(cosineNative(col("v"), col("vb")), 6) >= threshold,
      "left")
    dominated.groupBy(col("vec_id"), col("cluster"))
      .agg((count(col("uid")) === 0).as("keep"))
  }

  /** Frozen-model cluster assignment of arbitrary vectors — the
    * reusable first stage of the SemDeDup family, exposed for ingest
    * composition (r12): (vec_id, v, cluster) via the codegen'd
    * [[graft.functions.IvfAssign]] kernel (argmax cosine, ties to the
    * lower cluster id — the exact ivfTopK contract). One scan, no
    * exchange; callers repartition/persist as their pipeline needs.
    */
  def assignClusters(df: DataFrame, id: String, vec: String,
                     model: IvfModel): DataFrame = {
    val bcCent = centroidPayload(df.sparkSession, model.centroids)
    df.select(col(id).as("vec_id"), col(vec).as("v"))
      .where(col("v").isNotNull)
      .withColumn("_a", kernelCol(IvfAssign(_, bcCent), col("v")))
      .select(col("vec_id"), col("v"), col("_a._1").as("cluster"))
  }

  /** CROSS-corpus semantic near-dup gate — streaming ingest's SemDeDup
    * stage (VERDICT r11 #3): NEW-side ids having ANY corpus vector in
    * the same frozen cluster with round(cos, 6) ≥ threshold. Directional
    * (the corpus member always wins — an incoming near-dup of standing
    * content is dropped), so no dominance rule is needed. The corpus
    * side is capped per cluster — [[graft.dedup.Dedup.capBuckets]]'s
    * r-side-only contract: an oversized cluster loses its dominators
    * (bounded, observable loss) rather than funneling into a quadratic
    * task. Shuffle is on cluster id; at 100 TB the corpus assignment is
    * computed once and persisted, and each ingest batch joins against
    * it — never against raw corpus vectors.
    */
  def crossSemanticDup(newAsg: DataFrame, corpusAsg: DataFrame,
                       threshold: Double, maxCluster: Int = 2000): DataFrame = {
    val r = graft.dedup.Dedup
      .capBuckets(corpusAsg, Seq("cluster"), maxCluster, "crossSemanticDup")
      .select(col("vec_id").as("uid"), col("v").as("vb"),
        col("cluster").as("_rc"))
    newAsg.join(r,
        col("cluster") === col("_rc") &&
          round(cosineNative(col("v"), col("vb")), 6) >= threshold,
        "left_semi")
      .select(col("vec_id"))
  }

  /** Spherical k-means (Lloyd on cosine similarity) over an in-memory
    * sample: vectors normalize to the unit sphere, assignment is argmax
    * dot product (ties → lower list id), centroids are renormalized
    * member means (an empty list keeps its previous centroid). Fully
    * deterministic: init takes the first k sample vectors, and the caller
    * feeds the sample in hash order, so the draw is a uniform,
    * layout-independent choice. Returns ≤ k centroids (fewer only when
    * the sample itself is smaller than k).
    */
  private[ann] def sphericalKMeans(sample: Array[Array[Double]], k: Int,
                                   maxIter: Int): Array[Array[Double]] = {
    def normed(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v.clone() else v.map(_ / n)
    }
    val xs = sample.map(normed)
    if (xs.isEmpty) return Array.empty
    var cent = xs.take(k).map(_.clone())
    val assign = new Array[Int](xs.length)
    for (_ <- 0 until maxIter) {
      var i = 0
      while (i < xs.length) {
        val v = xs(i)
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < cent.length) {
          val ctr = cent(c)
          var dot = 0.0; var j = 0
          while (j < v.length && j < ctr.length) { dot += v(j) * ctr(j); j += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(cent.length)(new Array[Double](xs(0).length))
      val counts = new Array[Int](cent.length)
      i = 0
      while (i < xs.length) {
        val s = sums(assign(i)); val v = xs(i)
        var j = 0
        while (j < v.length) { s(j) += v(j); j += 1 }
        counts(assign(i)) += 1
        i += 1
      }
      cent = cent.indices.map { c =>
        if (counts(c) == 0) cent(c) else normed(sums(c))
      }.toArray
    }
    cent
  }

  /** Bounded, layout-invariant training draw shared by the quantizer
    * trainers: `orderBy(xxhash64(id)).limit(cap)` plans as a distributed
    * per-partition top-K heap (never a global sort) and the hash order
    * makes the draw deterministic across layouts. Only ≤ cap vectors
    * (a few MB) reach the driver — bounded by construction.
    */
  private def boundedSample(corpus: DataFrame, id: String, vec: String,
                            cap: Int): Array[Array[Double]] =
    corpus
      .select(col(id).as("_sid"), col(vec).cast("array<double>").as("_sv"))
      .where(col("_sv").isNotNull)
      .orderBy(xxhash64(col("_sid")), col("_sid"))
      .limit(cap)
      .select("_sv")
      .collect().map(_.getSeq[Double](0).toArray)

  private[ann] def unitVec(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v.clone() else v.map(_ / n)
  }

  /** IVF (inverted-file) approximate top-k: learn `nLists` centroids with
    * KMeans on a sample, assign every corpus vector to its nearest list,
    * then search each query only in its `nProbe` closest lists. The
    * data-adaptive alternative to SRP-LSH: cells follow the embedding
    * distribution, so real (clustered) corpora get far better
    * recall-per-candidate. Scale shape: centroids broadcast (small),
    * assignment is a scan, search shuffles on list id only.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, nLists: Int = 16, nProbe: Int = 4,
              trainCap: Int = 16384, maxIter: Int = 10): DataFrame =
    ivfTopK(corpus, queries, id, vec, k, nProbe,
      trainIvf(corpus, id, vec, nLists, trainCap, maxIter))

  /** Train the IVF coarse quantizer separately — the freeze-the-model
    * seam: training is the FIXED cost of IVF and must not scale with the
    * corpus (the standard inverted-file recipe): run spherical k-means
    * in memory over a [[boundedSample]] (≤ trainCap vectors, a few MB;
    * bounded by construction, unlike a collect of corpus-sized state).
    * Only the nLists × dim centroid matrix leaves the driver, as a
    * broadcast. Centroid quality converges long before the full corpus
    * is seen; recall comes from nProbe, not centroid perfection. (The
    * previous form trained spark.ml KMeans over the full corpus:
    * kmeans-parallel init plus per-iteration job rounds made TRAINING
    * dominate query time.)
    * Deterministic end-to-end (hash-ordered draw, first-k init, fixed
    * tie-breaks), so a frozen model is replayable by an external oracle.
    */
  def trainIvf(corpus: DataFrame, id: String, vec: String, nLists: Int = 16,
               trainCap: Int = 16384, maxIter: Int = 10): IvfModel =
    IvfModel(sphericalKMeans(boundedSample(corpus, id, vec, trainCap), nLists, maxIter))

  /** [[ivfTopK]] with a pre-trained (frozen) coarse quantizer. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, nProbe: Int, model: IvfModel): DataFrame = {
    val centroids = model.centroids

    // the centroid matrix ships ONCE per executor as a Spark broadcast and
    // the plan carries a single udf node, so plan size is O(1) in nLists.
    // (The earlier literal-expression form inlined every centroid into the
    // plan — O(nLists × dim) plan text, pathological at the ~4k lists a
    // 100 TB corpus wants.) Norms are precomputed with the broadcast.
    // Lifecycle: the broadcast outlives this call because the returned
    // (lazy) plan references it; ContextCleaner reclaims it once the plan
    // is garbage-collected — it cannot be destroy()ed here.
    val bcCent = centroidPayload(corpus.sparkSession, centroids)

    // nearest-`n` centroid ids by cosine (ties broken by lower list id):
    // the codegen'd graft.functions.IvfNearestLists kernel — the
    // assignment scan is IVF's corpus-dominant cost. The retired UDF form
    // lives in AnnUdfWitness, bit-equality pinned in AnnKernelSpec.
    val assigned = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
      .withColumn("list",
        kernelCol(IvfNearestLists(_, bcCent, 1), col("cv")).getItem(0))
    val probed = queries.select(col(id).as("query_id"), col(vec).as("qv"))
      .withColumn("list",
        explode(kernelCol(IvfNearestLists(_, bcCent, nProbe), col("qv"))))

    // every corpus vector lives in exactly ONE list and each query's
    // nProbe lists are distinct, so (query, neighbor) candidates are
    // already unique — a distinct() here would be a wasted extra shuffle
    val scored = probed.join(assigned, Seq("list"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosineNative("qv", "cv"))
      .select("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** Contrastive training-pair mining — the embedding-model data op:
    * for every query vector emit ONE positive (its best in-cluster
    * neighbor: role 'pos', the highest-cosine vector from the query's
    * OWN frozen IVF list) and `kNeg` HARD negatives (role 'neg': the
    * highest-cosine vectors from the query's next `nProbe - 1` nearest
    * FOREIGN lists — semantically close but cluster-distinct, the
    * close-but-not-duplicate recipe hard-negative mining wants; random
    * negatives would be trivially easy). Exclusion is structural: a
    * candidate's home list is the join key, so "not the query's
    * cluster" is just "probe ranks 2..nProbe" — no post-filter
    * re-ranking subtleties. Same scale shape as [[ivfTopK]]: one
    * broadcast of the frozen centroids, assignment scans, shuffle on
    * list id only, per-query window top-k.
    */
  def contrastivePairs(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                       kNeg: Int, nProbe: Int, model: IvfModel): DataFrame = {
    require(kNeg > 0 && nProbe >= 2, s"need kNeg > 0 and nProbe >= 2: $kNeg, $nProbe")
    val bcCent = centroidPayload(corpus.sparkSession, model.centroids)
    val assigned = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
      .withColumn("list",
        kernelCol(IvfNearestLists(_, bcCent, 1), col("cv")).getItem(0))
    // SINGLE-PASS over both roles (review r12): a per-role union built
    // two join subtrees, each streaming the full-corpus assignment scan
    // — the dominant cost — twice per execution. Exploding the probe
    // list WITH its rank lets one join carry both branches; the window
    // partitions by (query, role) so each role ranks independently.
    val probed = queries.select(col(id).as("query_id"), col(vec).as("qv"))
      .select(col("query_id"), col("qv"),
        posexplode(kernelCol(IvfNearestLists(_, bcCent, nProbe), col("qv")))
          .as(Seq("probe_rank", "list")))
    val scored = probed.join(assigned, Seq("list"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("role", when(col("probe_rank") === 0, "pos").otherwise("neg"))
      .withColumn("cos", cosineNative("qv", "cv"))
    val w = Window.partitionBy("query_id", "role")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where((col("role") === "pos" && col("rank") <= 1) ||
             (col("role") === "neg" && col("rank") <= kNeg))
      .select(col("query_id"), col("role"), col("neighbor_id"),
        col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** Cluster-balanced deterministic sample: assign every corpus vector
    * to its nearest frozen k-means list ([[trainIvf]]) and keep exactly
    * `nPer` vectors per list, ranked by the engine-portable md5 60-bit
    * prefix of the id (ties by id — pp_sample_n's device). The curation
    * pass that cuts volume while keeping the embedding space covered:
    * a uniform sample inherits the corpus's density (dominant clusters
    * stay dominant), a cluster-balanced one flattens it, the standard
    * diversity-preserving selection step (SemDeDup-adjacent). Lists
    * smaller than `nPer` keep all members.
    *
    * Scale shape: assignment is the codegen'd IvfNearestLists scan
    * (centroids ride ONE broadcast, plan size O(1) in nLists); the
    * per-list top-N is [[graft.operators.Aggregates.topKPerGroup]] —
    * per-partition pre-rank caps each task's contribution at nPer before
    * the single exchange on list id, so the wide shuffle carries
    * ≤ nPer·partitions rows per list, not the corpus.
    */
  def clusterSample(corpus: DataFrame, id: String, vec: String, nPer: Int,
                    model: IvfModel): DataFrame = {
    require(nPer > 0, "clusterSample: nPer must be positive")
    val bcCent = centroidPayload(corpus.sparkSession, model.centroids)
    // null-embedding rows are excluded explicitly: the kernel
    // null-propagates, and without the filter a null list would form
    // its own ranked group (the oracle guards with v IS NOT NULL)
    val assigned = corpus.where(col(vec).isNotNull).select(col(id), col(vec).as("_cv"))
      .withColumn("list", kernelCol(IvfNearestLists(_, bcCent, 1), col("_cv")).getItem(0))
      .withColumn("_h",
        conv(substring(md5(col(id).cast("string")), 1, 15), 16, 10).cast("long"))
    graft.operators.Aggregates.topKPerGroup(assigned, Seq("list"),
        Seq(col("_h").asc, col(id).asc), nPer, rankCol = "rank_in_list")
      .select(col("list"), col(id), col("rank_in_list"))
  }

  /** Euclidean k-means on an in-memory sample (Lloyd). Deterministic:
    * init takes the first k sample vectors, assignment ties go to the
    * lower centroid id, empty clusters keep their previous centroid.
    */
  private[ann] def euclideanKMeans(sample: Array[Array[Double]], k: Int,
                                   maxIter: Int): Array[Array[Double]] = {
    if (sample.isEmpty) return Array.empty
    var cent = sample.take(k).map(_.clone())
    val assign = new Array[Int](sample.length)
    for (_ <- 0 until maxIter) {
      var i = 0
      while (i < sample.length) {
        val v = sample(i)
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < cent.length) {
          val ctr = cent(c)
          var d = 0.0; var j = 0
          while (j < v.length) { val t = v(j) - ctr(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(cent.length)(new Array[Double](sample(0).length))
      val counts = new Array[Int](cent.length)
      i = 0
      while (i < sample.length) {
        val s = sums(assign(i)); val v = sample(i)
        var j = 0
        while (j < v.length) { s(j) += v(j); j += 1 }
        counts(assign(i)) += 1
        i += 1
      }
      cent = cent.indices.map { c =>
        if (counts(c) == 0) cent(c) else sums(c).map(_ / counts(c))
      }.toArray
    }
    cent
  }

  /** Product-quantization (PQ) approximate top-k with asymmetric-distance
    * scoring and exact re-rank — the memory-compression scale path for
    * ANN over a corpus too large to keep as raw floats.
    *
    * Recipe (the classic IVFADC encode/score split, minus the IVF cells —
    * compose with [[ivfTopK]]'s list assignment for both):
    *  1. TRAIN (bounded): `m` sub-codebooks of 2^codebookBits centroids
    *     each, k-means over a ≤ trainCap hash-ordered sample of
    *     unit-normalized vectors — the same fixed-cost, layout-invariant
    *     draw as IVF training. Only the m × 2^bits × (dim/m) codebook
    *     matrix leaves the driver, as one broadcast.
    *  2. ENCODE (one corpus scan): each vector → m small codes + its
    *     reconstruction norm. The encoded table is ~4·dim/m× smaller than
    *     the raw floats (64-dim float32 at m=8 → 64 B → ~9 B/row): at
    *     100 TB this is the difference between scanning 100 TB and
    *     scanning ~1.5 TB per query batch. In production the encoded
    *     frame is written once and reused; here it is built inline.
    *  3. SCORE: each query precomputes its m × 2^bits dot-product lookup
    *     table ONCE (a row-local UDF), then every (query, code-row) pair
    *     costs m array lookups — O(m) instead of O(dim).
    *  4. REFINE: the top `refineK` candidates per query by estimated
    *     cosine re-rank with EXACT cosine on the raw vectors (touching
    *     only |queries| × refineK rows), so reported scores are true
    *     cosines and refineK ≥ |corpus| degrades gracefully to exact
    *     brute force (asserted in AnnSpec).
    *
    * Deterministic end-to-end: sampling, init, ties, and the fixed-order
    * UDF summations are all pure functions of the data.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
             k: Int, m: Int = 8, codebookBits: Int = 6, refineK: Int = 50,
             trainCap: Int = 16384, maxIter: Int = 10): DataFrame =
    pqTopK(corpus, queries, id, vec, k, refineK,
      trainPq(corpus, id, vec, m, codebookBits, trainCap, maxIter))

  /** Matryoshka (MRL) coarse-to-fine retrieval (r14): coarse top-`coarseK`
    * over only the first `prefix` dims (cosine renormalizes per vector,
    * so the truncation needs no stored norms), then EXACT full-width
    * re-rank of just those candidates — the two-stage economics of
    * modern MRL embedding search, where the coarse pass touches a
    * dim/prefix× narrower store and the refine pass touches only
    * |queries| × coarseK raw vectors. `coarseK ≥ |corpus|` degrades
    * gracefully to exact brute force (the pqTopK refine law; asserted
    * in DedupAnnSpec). Reported scores are true full-width cosines.
    *
    * Scale shape: the coarse scan broadcasts the (truncated) query set
    * over the narrow store; the refine joins the small candidate list
    * back to the raw vectors by id (hash equi-join, candidate side
    * broadcastable) — the 100 TB corpus is never scanned at full width.
    */
  def mrlTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, prefix: Int, coarseK: Int): DataFrame = {
    require(coarseK >= k, s"coarseK $coarseK must be >= k $k")
    val truncC = corpus.select(col(id), slice(col(vec), 1, prefix).as(vec))
    val truncQ = queries.select(col(id), slice(col(vec), 1, prefix).as(vec))
    val coarse = bruteForceTopK(truncC, truncQ, id, vec, coarseK)
      .select(col("query_id"), col("neighbor_id"))
    val qFull = broadcast(queries.select(col(id).as("query_id"), col(vec).as("qv")))
    val refined = coarse
      .join(corpus.select(col(id).as("neighbor_id"), col(vec).as("cv")), Seq("neighbor_id"))
      .join(qFull, Seq("query_id"))
      .withColumn("cos", cosineNative("qv", "cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    refined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** Train the PQ sub-codebooks separately — the freeze-the-model seam
    * (deterministic: hash-ordered sample, first-k init, fixed ties).
    */
  def trainPq(corpus: DataFrame, id: String, vec: String, m: Int = 8,
              codebookBits: Int = 6, trainCap: Int = 16384,
              maxIter: Int = 10): PqModel = {
    val kCent = 1 << codebookBits
    val sample = boundedSample(corpus, id, vec, trainCap)
    require(sample.nonEmpty, "PQ training needs a non-empty corpus")
    val dim = sample(0).length
    require(dim >= m, s"dim $dim < m $m")
    val bounds = (0 to m).map(s => s * dim / m).toArray
    val books: Array[Array[Array[Double]]] = (0 until m).toArray.map { s =>
      euclideanKMeans(
        sample.map(v => java.util.Arrays.copyOfRange(unitVec(v), bounds(s), bounds(s + 1))),
        kCent, maxIter)
    }
    PqModel(books, bounds)
  }

  /** [[pqTopK]] with a pre-trained (frozen) product quantizer. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
             k: Int, refineK: Int, model: PqModel): DataFrame = {
    val spark = corpus.sparkSession
    val kCent = model.kCent
    val bc = KernelPayload(spark.sparkContext, (model.books, model.bounds))

    // encode (corpus row → m codes + reconstruction norm; nearest
    // sub-centroid by L2 over the unit-normalized vector, ties to the
    // lower code), per-query LUT build, and ADC scoring all run as
    // codegen'd kernels (graft.functions.{PqEncode, PqLut, PqAdc}) — the
    // encode scan is PQ's dominant cost at corpus scale and the ADC is
    // the per-candidate inner loop. Retired UDF forms: AnnUdfWitness,
    // bit-equality pinned in AnnKernelSpec.
    val encoded = corpus
      .select(col(id).as("neighbor_id"),
        kernelCol(PqEncode(_, bc), col(vec)).as("_e"))
      .where(col("_e").isNotNull)
      .select(col("neighbor_id"), col("_e._1").as("codes"), col("_e._2").as("xnorm"))
    val q = broadcast(queries
      .select(col(id).as("query_id"), kernelCol(PqLut(_, bc), col(vec)).as("lut"))
      .where(col("lut").isNotNull))
    val est = encoded.crossJoin(q) // broadcast nested loop over the small query set
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        ColumnBridge.column(PqAdc(
          ColumnBridge.expression(col("codes")),
          ColumnBridge.expression(col("xnorm")),
          ColumnBridge.expression(col("lut")), kCent)).as("est"))
    val wEst = Window.partitionBy("query_id").orderBy(col("est").desc, col("neighbor_id").asc)
    val cand = est.withColumn("_r", row_number().over(wEst))
      .where(col("_r") <= math.max(refineK, k))
      .select("query_id", "neighbor_id")
    val refined = cand
      .join(corpus.select(col(id).as("neighbor_id"), col(vec).as("cv")), "neighbor_id")
      .join(broadcast(queries.select(col(id).as("query_id"), col(vec).as("qv"))), "query_id")
      .withColumn("cos", cosineNative("qv", "cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    refined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** IVFADC — the production ANN composition of [[ivfTopK]] and
    * [[pqTopK]]: a coarse quantizer (spherical-k-means inverted lists)
    * scopes the search to `nProbe` cells, and product quantization over
    * the RESIDUALS (u − c_list, the classic IVFADC encode — residuals
    * are far more compressible than raw vectors because the coarse cell
    * has already absorbed most of the energy) compresses each corpus
    * vector to m codes + one norm. Asymmetric-distance scoring touches
    * only the probed cells' encoded rows, then the top `refineK`
    * estimates re-rank with exact cosine on raw vectors.
    *
    * Scale shape: training is bounded ([[boundedSample]]) and ships as
    * ONE broadcast (centroids + codebooks); the corpus pays one
    * encode scan; the candidate join is an equi-join on list id; the
    * ADC scan reads ~9 B/row instead of raw floats; the exact re-rank
    * touches |queries| × refineK rows. With nProbe = nLists and
    * refineK ≥ |corpus| this degrades to exact brute force (asserted
    * in DedupAnnSpec).
    *
    * The probed-query frame BROADCASTS (same contract as the other topK
    * searchers' query side): shuffling the encoded corpus by list id
    * would funnel it into nLists partitions, while broadcasting queries
    * leaves the corpus scan in place. Right for query batches up to
    * ~10^4-10^5 (each query row carries an m·2^bits-double LUT); a
    * larger batch should be sharded and the shards run independently —
    * results are per-query, so sharding composes trivially.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                k: Int, nLists: Int = 16, nProbe: Int = 4, m: Int = 8,
                codebookBits: Int = 6, refineK: Int = 50,
                trainCap: Int = 16384, maxIter: Int = 10): DataFrame =
    ivfPqTopK(corpus, queries, id, vec, k, nProbe, refineK,
      trainIvfPq(corpus, id, vec, nLists, m, codebookBits, trainCap, maxIter))

  /** Argmax-dot list assignment (ties to the lower list id) — shared by
    * IVFADC training and encode.
    */
  private[ann] def nearestList(cents: Array[Array[Double]], u: Array[Double]): Int = {
    var best = 0; var bestS = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val ctr = cents(c)
      var dot = 0.0; var j = 0
      while (j < u.length && j < ctr.length) { dot += u(j) * ctr(j); j += 1 }
      if (dot > bestS) { bestS = dot; best = c }
      c += 1
    }
    best
  }

  /** Train the IVFADC model separately — the freeze-the-model seam:
    * coarse quantizer (unit-norm centroids, argmax-dot assignment, ties
    * to the lower list id — identical contract to ivfTopK), then
    * residual codebooks: k-means per subspace over (u − c_list) of the
    * training sample. Deterministic end-to-end.
    */
  def trainIvfPq(corpus: DataFrame, id: String, vec: String,
                 nLists: Int = 16, m: Int = 8, codebookBits: Int = 6,
                 trainCap: Int = 16384, maxIter: Int = 10): IvfPqModel = {
    val kCent = 1 << codebookBits
    val sample = boundedSample(corpus, id, vec, trainCap)
    require(sample.nonEmpty, "IVFADC training needs a non-empty corpus")
    val dim = sample(0).length
    require(dim >= m, s"dim $dim < m $m")
    val centroids = sphericalKMeans(sample, nLists, maxIter)
    val bounds = (0 to m).map(s => s * dim / m).toArray
    val residuals = sample.map { v =>
      val u = unitVec(v)
      val c = centroids(nearestList(centroids, u))
      Array.tabulate(dim)(j => u(j) - c(j))
    }
    val books: Array[Array[Array[Double]]] = (0 until m).toArray.map { s =>
      euclideanKMeans(
        residuals.map(r => java.util.Arrays.copyOfRange(r, bounds(s), bounds(s + 1))),
        kCent, maxIter)
    }
    IvfPqModel(centroids, books, bounds)
  }

  /** [[ivfPqTopK]] with a pre-trained (frozen) IVFADC model. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                k: Int, nProbe: Int, refineK: Int, model: IvfPqModel): DataFrame = {
    val spark = corpus.sparkSession
    val kCent = model.kCent
    val bc = KernelPayload(spark.sparkContext, (model.centroids, model.books, model.bounds))

    // encode (corpus row → list + m residual codes + reconstruction norm,
    // x̂ = c_list + ĉ(codes)), probe selection (nProbe lists by descending
    // centroid dot, ties to the lower list id), list-independent residual
    // LUT, and ADC scoring all run as codegen'd kernels
    // (graft.functions.{IvfPqEncode, IvfPqProbes, IvfPqLut, IvfPqAdc}) —
    // the encode scan is IVFADC's dominant cost at corpus scale. Retired
    // UDF forms: AnnUdfWitness, bit-equality pinned in AnnKernelSpec.
    val encoded = corpus
      .select(col(id).as("neighbor_id"),
        kernelCol(IvfPqEncode(_, bc), col(vec)).as("_e"))
      .where(col("_e").isNotNull)
      .select(col("neighbor_id"), col("_e._1").as("list"),
        col("_e._2").as("codes"), col("_e._3").as("xnorm"))
    // The m·2^bits-double LUT is per-QUERY, not per-probe: broadcasting
    // the probe-exploded frame with the LUT inline would ship each LUT
    // nProbe times (e.g. 512 doubles × 6 probes per query). Instead the
    // slim (query_id, list, qdotc) probe frame drives the list equi-join
    // and the one-row-per-query (query_id, lut) frame joins on AFTER it,
    // so each LUT crosses the wire once.
    val qProbes = queries
      .select(col(id).as("query_id"),
        kernelCol(IvfPqProbes(_, bc, nProbe), col(vec)).as("_p"))
      .where(col("_p").isNotNull)
      .select(col("query_id"), explode(col("_p")).as("_pe"))
      .select(col("query_id"), col("_pe._1").as("list"), col("_pe._2").as("qdotc"))
    val qLut = queries
      .select(col(id).as("query_id"), kernelCol(IvfPqLut(_, bc), col(vec)).as("lut"))
      .where(col("lut").isNotNull)
    // candidates are unique without a distinct(): each corpus vector
    // lives in exactly ONE list and a query's probed lists are distinct
    val est = broadcast(qProbes).join(encoded, Seq("list"))
      .where(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(qLut), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        ColumnBridge.column(IvfPqAdc(
          ColumnBridge.expression(col("codes")),
          ColumnBridge.expression(col("xnorm")),
          ColumnBridge.expression(col("qdotc")),
          ColumnBridge.expression(col("lut")), kCent)).as("est"))
    val wEst = Window.partitionBy("query_id").orderBy(col("est").desc, col("neighbor_id").asc)
    val cand = est.withColumn("_r", row_number().over(wEst))
      .where(col("_r") <= math.max(refineK, k))
      .select("query_id", "neighbor_id")
    val refined = cand
      .join(corpus.select(col(id).as("neighbor_id"), col(vec).as("cv")), "neighbor_id")
      .join(broadcast(queries.select(col(id).as("query_id"), col(vec).as("qv"))), "query_id")
      .withColumn("cos", cosineNative("qv", "cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    refined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** LSH-bucketed approximate top-k. `nBits` hyperplanes → 2^nBits
    * buckets; `probeBits` > 0 additionally probes buckets at Hamming
    * distance 1 in the first `probeBits` bits (multi-probe, recovers
    * recall lost at bucket edges without growing buckets).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: String,
              vec: String, k: Int, nBits: Int = 8, probeBits: Int = 4): DataFrame = {
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"),
      srpBucketNative(vec, nBits).as("bucket"))
    val qBase = queries.select(col(id).as("query_id"), col(vec).as("qv"),
      srpBucketNative(vec, nBits).as("b0"))
    // probe set: own bucket + 1-bit flips of the first probeBits bits
    val probes = array((lit(0) +: (0 until probeBits).map(b => lit(1 << b))): _*)
    val q = qBase.select(col("query_id"), col("qv"),
      explode(transform(probes, f => col("b0").bitwiseXOR(f))).as("bucket"))
    // candidates are unique without a distinct(): each corpus vector keys
    // by its one bucket, the query's probe buckets are distinct values
    val scored = q.join(c, Seq("bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosineNative("qv", "cv"))
      .select("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 6).as("cos"))
  }
}

/** The RETIRED Scala-UDF forms of the ANN quantizer hot loops, kept
  * verbatim as equality witnesses: AnnKernelSpec proves each codegen'd
  * kernel in graft.functions.AnnKernels matches its UDF twin bit-for-bit
  * on the real embeddings table (same model broadcast, same rows). No
  * query path uses these — [[Ann]] always builds the native kernels.
  */
private[graft] object AnnUdfWitness {
  import org.apache.spark.broadcast.Broadcast
  import org.apache.spark.sql.expressions.UserDefinedFunction
  import org.apache.spark.sql.functions.udf

  /** Witness for graft.functions.IvfAssign (SemDeDup assignment). */
  def ivfAssign(bcCent: Broadcast[Array[(Array[Double], Double)]]): UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val arr = v.toArray
        val vn = math.sqrt(arr.map(x => x * x).sum)
        val cents = bcCent.value
        var best = 0; var bestS = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          val (ctr, cn) = cents(c)
          var dot = 0.0; var j = 0
          while (j < arr.length && j < ctr.length) { dot += arr(j) * ctr(j); j += 1 }
          val s = if (vn == 0.0 || cn == 0.0) 0.0 else dot / (vn * cn)
          if (s > bestS) { bestS = s; best = c }
          c += 1
        }
        (best, bestS)
      }
    }

  /** Witness for graft.functions.IvfNearestLists (IVF assignment/probes). */
  def ivfNearestLists(bcCent: Broadcast[Array[(Array[Double], Double)]],
                      n: Int): UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val arr = v.toArray
        val vn = math.sqrt(arr.map(x => x * x).sum)
        bcCent.value.zipWithIndex.map { case ((c, cn), i) =>
          var dot = 0.0
          var j = 0
          while (j < arr.length && j < c.length) { dot += arr(j) * c(j); j += 1 }
          (if (vn == 0.0 || cn == 0.0) 0.0 else dot / (vn * cn), i)
        }.sortBy { case (s, i) => (-s, i) }.take(n).map(_._2).toSeq
      }
    }

  /** Witness for graft.functions.PqEncode. */
  def pqEncode(bc: Broadcast[(Array[Array[Array[Double]]], Array[Int])]): UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val (bks, bds) = bc.value
        val u = {
          val arr = v.toArray
          val n = math.sqrt(arr.map(x => x * x).sum)
          if (n == 0.0) arr else arr.map(_ / n)
        }
        var normSq = 0.0
        val codes = new Array[Int](bks.length)
        var s = 0
        while (s < bks.length) {
          val book = bks(s); val lo = bds(s); val hi = bds(s + 1)
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < book.length) {
            val ctr = book(c)
            var d = 0.0; var j = lo
            while (j < hi) { val t = u(j) - ctr(j - lo); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          codes(s) = best
          val ctr = book(best)
          var j = 0
          while (j < ctr.length) { normSq += ctr(j) * ctr(j); j += 1 }
          s += 1
        }
        (codes.toSeq, math.sqrt(normSq))
      }
    }

  /** Witness for graft.functions.PqLut. */
  def pqLut(bc: Broadcast[(Array[Array[Array[Double]]], Array[Int])],
            kCent: Int): UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val (bks, bds) = bc.value
        val u = {
          val arr = v.toArray
          val n = math.sqrt(arr.map(x => x * x).sum)
          if (n == 0.0) arr else arr.map(_ / n)
        }
        val lut = new Array[Double](bks.length * kCent)
        var s = 0
        while (s < bks.length) {
          val book = bks(s); val lo = bds(s)
          var c = 0
          while (c < book.length) {
            val ctr = book(c)
            var dot = 0.0; var j = 0
            while (j < ctr.length) { dot += u(lo + j) * ctr(j); j += 1 }
            lut(s * kCent + c) = dot
            c += 1
          }
          s += 1
        }
        lut.toSeq
      }
    }

  /** Witness for graft.functions.PqAdc. */
  def pqAdc(kCent: Int): UserDefinedFunction =
    udf { (codes: Seq[Int], xnorm: Double, lut: Seq[Double]) =>
      var acc = 0.0
      var s = 0
      while (s < codes.length) { acc += lut(s * kCent + codes(s)); s += 1 }
      if (xnorm == 0.0) 0.0 else acc / xnorm
    }

  /** Witness for graft.functions.IvfPqEncode. */
  def ivfPqEncode(bc: Broadcast[(Array[Array[Double]], Array[Array[Array[Double]]], Array[Int])]): UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val (cents, bks, bds) = bc.value
        val u = Ann.unitVec(v.toArray)
        val lst = Ann.nearestList(cents, u)
        val cl = cents(lst)
        val recon = cl.clone()
        val codes = new Array[Int](bks.length)
        var s = 0
        while (s < bks.length) {
          val book = bks(s); val lo = bds(s); val hi = bds(s + 1)
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < book.length) {
            val ctr = book(c)
            var d = 0.0; var j = lo
            while (j < hi) { val t = (u(j) - cl(j)) - ctr(j - lo); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          codes(s) = best
          val ctr = book(best)
          var j = lo
          while (j < hi) { recon(j) += ctr(j - lo); j += 1 }
          s += 1
        }
        var normSq = 0.0
        var j = 0
        while (j < recon.length) { normSq += recon(j) * recon(j); j += 1 }
        (lst, codes.toSeq, math.sqrt(normSq))
      }
    }

  /** Witness for graft.functions.IvfPqProbes. */
  def ivfPqProbes(bc: Broadcast[(Array[Array[Double]], Array[Array[Array[Double]]], Array[Int])],
                  nProbe: Int): UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val (cents, _, _) = bc.value
        val u = Ann.unitVec(v.toArray)
        cents.zipWithIndex.map { case (c, i) =>
          var dot = 0.0; var j = 0
          while (j < u.length && j < c.length) { dot += u(j) * c(j); j += 1 }
          (dot, i)
        }.sortBy { case (s, i) => (-s, i) }.take(nProbe)
          .map { case (d, i) => (i, d) }.toSeq
      }
    }

  /** Witness for graft.functions.IvfPqLut. */
  def ivfPqLut(bc: Broadcast[(Array[Array[Double]], Array[Array[Array[Double]]], Array[Int])],
               kCent: Int): UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val (_, bks, bds) = bc.value
        val u = Ann.unitVec(v.toArray)
        val lut = new Array[Double](bks.length * kCent)
        var s = 0
        while (s < bks.length) {
          val book = bks(s); val lo = bds(s)
          var c = 0
          while (c < book.length) {
            val ctr = book(c)
            var dot = 0.0; var j = 0
            while (j < ctr.length) { dot += u(lo + j) * ctr(j); j += 1 }
            lut(s * kCent + c) = dot
            c += 1
          }
          s += 1
        }
        lut.toSeq
      }
    }

  /** Witness for graft.functions.IvfPqAdc. */
  def ivfPqAdc(kCent: Int): UserDefinedFunction =
    udf { (codes: Seq[Int], xnorm: Double, qdotc: Double, lut: Seq[Double]) =>
      var acc = qdotc
      var s = 0
      while (s < codes.length) { acc += lut(s * kCent + codes(s)); s += 1 }
      if (xnorm == 0.0) 0.0 else acc / xnorm
    }
}
