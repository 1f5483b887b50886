package graft

import graft.ann.Ann
import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Property tests for the LSH-based operators (whose outputs are
  * hash-function-specific and therefore not DuckDB-oracle-checkable):
  * MinHash estimates vs exact Jaccard, SimHash Hamming guarantees, and
  * ANN recall vs brute force.
  */
class DedupAnnSpec extends GraftTest {

  private lazy val docs = Graft.documents(spark, sf)

  test("exact dedup groups identical texts and keeps the smallest id") {
    import spark.implicits._
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(d, "doc_id", "text").collect()
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") === 1L)
    assert(out.length === 2)
  }

  test("incremental dedup drops corpus-known content and dedups within the batch") {
    import spark.implicits._
    val corpus = Seq((100L, "already here"), (101L, "also here")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "already here"),  // known content → dropped
      (2L, "brand new"),     // genuinely new
      (3L, "brand new"),     // in-batch duplicate → keep id 2 only
      (4L, "another new")
    ).toDF("doc_id", "text")
    val kept = Dedup.incremental(batch, corpus, "doc_id", "text")
      .collect().map(_.getAs[Long]("keep_id")).sorted
    assert(kept.toSeq === Seq(2L, 4L))
  }

  test("edit-distance pairs match brute-force Levenshtein (sub/ins/del/equal-dup)") {
    import spark.implicits._
    val names = Seq(
      (1L, "alpha"), (2L, "alpho"),   // substitution, dist 1
      (3L, "alphas"),                 // insertion vs 1, dist 1
      (4L, "alph"),                   // deletion vs 1, dist 1
      (5L, "beta"), (6L, "beta"),     // exact duplicate, dist 0
      (7L, "gamma"),                  // isolated
      (8L, "bXtY")                    // dist 2 from beta — must NOT pair at maxDist 1
    ).toDF("k", "name")
    val got = Dedup.editDistancePairs(names, "k", "name", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rows = names.collect().map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      dist = lev(sa, sb) if dist <= 1
    } yield (ia, ib, dist)).toSet
    assert(got === want, s"got $got want $want")
  }

  test("edit-distance pair generation never plans a cartesian product") {
    val plan = Dedup.editDistancePairs(Graft.customer(spark, sf), "c_custkey", "c_name")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("cross-corpus embedding near-dup finds a planted batch duplicate") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val corpusVecs = (0 until 50).map(i => (i.toLong, vec()))
    // batch row 1000 is corpus row 3 with tiny noise (cos ≈ 1)
    val planted = corpusVecs(3)._2.map(x => x + 0.001f)
    val batch = Seq((1000L, planted), (1001L, vec())).toDF("vec_id", "embedding")
    val corpus = corpusVecs.toDF("vec_id", "embedding")
    val hits = graft.ann.Ann.crossCosinePairs(batch, corpus, "vec_id", "embedding",
        threshold = 0.9, nBits = 4, probeBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.contains((1000L, 3L)), s"planted dup must surface; got ${hits.toSeq}")
    // nothing pairs with itself across sides, and all survivors clear the bar
    assert(hits.forall { case (b, c) => b >= 1000L && c < 1000L })
  }

  test("ngram blocking cap is provably inert at both certified SFs") {
    // dd_ngram_jaccard / dd_jaccard_verify ship CAPPED (blockedPairs
    // maxBucket = 1000) while their DuckDB oracles replay the UNCAPPED
    // full pairing — sound only while no block reaches the cap at the
    // certified SFs. This pin turns a corpus regeneration that breaks
    // that premise into a clear failure here instead of a confusing
    // oracle hash mismatch at the driver.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Graft.documents(spark, dir)
      val maxBlk = docs
        .groupBy(col("lang"), (col("n_chars") / lit(32)).cast("int"))
        .count().agg(max("count")).collect()(0).getLong(0)
      assert(maxBlk < 1000,
        s"$dir: max (lang, n_chars/32) block $maxBlk reaches the cap — " +
          "the uncapped oracles no longer certify the capped queries")
      // dd_jaccard_verify's exact-length blocking is strictly finer
      val maxExact = docs.groupBy(col("lang"), col("n_chars"))
        .count().agg(max("count")).collect()(0).getLong(0)
      assert(maxExact <= maxBlk)
    }
  }

  test("snapshotDelta classifies added/removed/changed and omits unchanged") {
    import spark.implicits._
    // rows 5/6 pin the NULL-text contract: presence comes from marker
    // columns, not hash nullness — a present row with NULL text must
    // read as changed (vs content) or unchanged (vs NULL), never as
    // added/removed
    val nul: String = null
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, nul), (6L, nul))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "a"), (2L, "B"), (4L, "d"), (5L, "x"), (6L, nul))
      .toDF("doc_id", "text")
    val got = Dedup.snapshotDelta(old, neu, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((2L, "changed"), (3L, "removed"), (4L, "added"), (5L, "changed")))
  }

  test("semanticDedup equals brute-force within-cluster dominance (SemDeDup keeper rule)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(24)(rnd.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, vec()))
    // plant an exact duplicate of 7 and a near-duplicate of 19
    val rows = base ++ Seq((60L, base(7)._2.clone()),
                           (61L, base(19)._2.map(x => x + 0.01f)))
    val df = rows.toDF("vec_id", "embedding")
    val model = Ann.trainIvf(df, "vec_id", "embedding", nLists = 4)
    val out = Ann.semanticDedup(df, "vec_id", "embedding", threshold = 0.9, model)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet

    // brute force: the operator's exact assignment math and dominance rule
    val cents = model.centroids.map(c => (c, math.sqrt(c.map(x => x * x).sum)))
    def assignOf(v: Array[Float]): (Int, Double) = {
      val arr = v.map(_.toDouble)
      val vn = math.sqrt(arr.map(x => x * x).sum)
      var best = 0; var bestS = Double.NegativeInfinity
      for (c <- cents.indices) {
        val (ctr, cn) = cents(c)
        var dot = 0.0; var j = 0
        while (j < arr.length && j < ctr.length) { dot += arr(j) * ctr(j); j += 1 }
        val s = if (vn == 0.0 || cn == 0.0) 0.0 else dot / (vn * cn)
        if (s > bestS) { bestS = s; best = c }
      }
      (best, bestS)
    }
    def cos6(a: Array[Float], b: Array[Float]): BigDecimal = {
      val x = a.map(_.toDouble); val y = b.map(_.toDouble)
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      val na = math.sqrt(x.map(v => v * v).sum)
      val nb = math.sqrt(y.map(v => v * v).sum)
      BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val asg = rows.map { case (idv, v) => (idv, assignOf(v), v) }
    val expected = asg.map { case (idv, (cl, cd), v) =>
      val dropped = asg.exists { case (ju, (cu, cud), u) =>
        ju != idv && cu == cl &&
          (cud < cd || (cud == cd && ju < idv)) &&
          cos6(u, v) >= BigDecimal("0.9")
      }
      (idv, cl, !dropped)
    }.toSet
    assert(out === expected)

    // planted pairs: the exact duplicate keeps the lower id (identical
    // cdot → id tie-break); the near-duplicate pair loses exactly one
    val keep = out.map(t => t._1 -> t._3).toMap
    assert(keep(7L) && !keep(60L), "exact dup: lower id keeps, copy drops")
    assert(keep(19L) ^ keep(61L), "near-dup pair must lose exactly one member")
  }

  test("semanticDedup maxCluster cap drops dominators from oversized clusters only") {
    import spark.implicits._
    val rnd = new scala.util.Random(12)
    val rows = (0 until 40).map(i =>
      (i.toLong, Array.fill(24)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val model = Ann.trainIvf(df, "vec_id", "embedding", nLists = 4)
    // cap=1: every multi-member cluster is capped away on the dominator
    // side, so nothing can drop — the observable bounded-loss contract
    val capped = Ann.semanticDedup(df, "vec_id", "embedding", threshold = 0.0,
      model, maxCluster = 1)
    assert(capped.collect().forall(_.getBoolean(2)), "capped clusters must keep all members")
    // uncapped at threshold 0: everything except per-cluster keepers drops
    val open = Ann.semanticDedup(df, "vec_id", "embedding", threshold = -1.0,
      model, maxCluster = 0)
    val kept = open.collect().filter(_.getBoolean(2)).map(_.getInt(1))
    assert(kept.length === kept.distinct.length, "exactly one keeper per cluster at threshold -1")
  }

  test("minhashSigs signatures equal the columnar min-aggregate form") {
    val a = Dedup.minhashSigs(docs, "doc_id", "text").withColumnRenamed("sig", "sa")
    val b = ColumnForms.minhashSigsColumnar(docs, "doc_id", "text").withColumnRenamed("sig", "sb")
    val mismatches = a.join(b, "doc").where(col("sa") =!= col("sb")).count()
    assert(mismatches === 0L, s"$mismatches docs with diverging signatures")
  }

  test("dedup kernels need no function registry: gram sets stay hashed, signatures equal") {
    // a session whose registry has every graft SQL name dropped: the
    // Dedup APIs build their kernels directly, so nothing changes
    val bare = spark.newSession()
    bare.catalog.listFunctions().collect()
      .filter(f => Option(f.className).exists(_.startsWith("graft.")))
      .foreach(f => bare.sql(s"DROP TEMPORARY FUNCTION ${f.name}"))
    assert(!bare.catalog.functionExists("shingle_hashes") &&
      !bare.catalog.functionExists("minhash_sig"), "graft functions must be dropped")
    val sets = Dedup.gramSets(Graft.documents(bare, sf), "doc_id", "text")
    assert(sets.schema("toks").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.LongType,
      s"gram sets must be hashed longs, got ${sets.schema("toks").dataType.catalogString}")
    assert(sets.limit(5).collect().nonEmpty)
    def sigs(s: org.apache.spark.sql.SparkSession) =
      Dedup.minhashSigs(Graft.documents(s, sf), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val withRegistry = sigs(spark)
    assert(withRegistry.nonEmpty)
    assert(sigs(bare) === withRegistry)
  }

  test("verifyJaccardWithSets rejects gram sets that are not array<bigint>") {
    import spark.implicits._
    // the sorted-merge intersection kernel is only defined over hashed
    // gram sets; a string set is a caller bug, reported up front
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val stringSets = Seq((1L, Seq("x", "y")), (2L, Seq("y"))).toDF("vid", "toks")
    val e = intercept[IllegalArgumentException](Dedup.verifyJaccardWithSets(pairs, stringSets))
    assert(e.getMessage.contains("array<bigint>") && e.getMessage.contains("array<string>"))
    val hashed = Seq((1L, Seq(7L, 9L)), (2L, Seq(9L))).toDF("vid", "toks")
    assert(Dedup.verifyJaccardWithSets(pairs, hashed).select("jaccard").head().getDouble(0) === 0.5)
  }

  test("minhash est_jaccard approximates exact token-set jaccard") {
    // verify the estimator against exact jaccard on the pairs it surfaces
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
    val verified = Dedup.verifyJaccard(pairs, docs, "doc_id", "text").collect()
    assert(verified.nonEmpty, "expected at least one candidate pair at sf0.001")
    verified.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      val exact = r.getAs[Double]("jaccard")
      assert(math.abs(est - exact) < 0.35,
        s"pair (${r.get(0)},${r.get(1)}): est=$est exact=$exact — estimator off")
    }
  }

  test("verifyJaccard membersOnly prefilter is result-identical") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .persist() // the mode's contract: pairs materialized by the caller
    try {
      val full = Dedup.verifyJaccard(pairs, docs, "doc_id", "text")
        .collect().map(_.toSeq).toSet
      val pre = Dedup.verifyJaccard(pairs, docs, "doc_id", "text",
        membersOnly = true).collect().map(_.toSeq).toSet
      assert(full.nonEmpty && pre === full,
        "membersOnly is an execution-strategy switch, not a semantic one")
    } finally { pairs.unpersist(); () }
  }

  test("minhash LSH finds near-duplicates (recall on planted pairs)") {
    import spark.implicits._
    // plant near-dups: each base doc gets a copy with one word dropped →
    // shingle jaccard ≈ (n-k)/(n+k-?) — high; LSH at threshold 0.5 must
    // surface essentially all planted pairs. (Ground truth must be at
    // SHINGLE granularity — the synthetic corpus's tiny vocabulary makes
    // unigram jaccard high for unrelated docs, which is exactly the
    // false-positive class shingling exists to kill.)
    val base = docs.where(col("doc_id") < 50).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val planted = base.map { case (id, t) =>
      val words = t.split(" ")
      (id + 100000L, (words.take(words.length / 2) ++ words.drop(words.length / 2 + 1)).mkString(" "))
    }
    val all = (base ++ planted).toSeq.toDF("doc_id", "text")
    val found = Dedup.minhashPairs(all, "doc_id", "text", threshold = 0.5)
      .select("a", "b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val truth = base.map { case (id, _) => (id, id + 100000L) }.toSet
    val recall = truth.count(found.contains).toDouble / truth.size
    assert(recall >= 0.9, s"LSH recall $recall over ${truth.size} planted near-dup pairs")
  }

  test("containment sketch arm: planted quote pairs surface; recall vs the exact arm") {
    import spark.implicits._
    // r18 (VERDICT r17 #4): certify the containment-MinHash production
    // arm's RECALL, not just its hash replay. Planted: each base doc
    // gets a companion holding its first 2/3 of words — shingle Jaccard
    // ≈ 2/3 (steep on the 16×4 LSH curve: P(candidate) = 1-(1-J⁴)¹⁶ ≈
    // 0.97) and containment(short in long) ≈ 1.0, squarely the
    // quote-inclusion signal the sketch exists to catch. The measured
    // floor is 0.9; the arm's DOCUMENTED blind spot — quotes under ~half
    // the container's length bucket poorly (J = |A|/|B| < 0.5 → J⁴
    // collapses) — is dd_chunk / dd_span's regime, stated in the query
    // comment.
    val base = docs.where(col("doc_id") < 60).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val planted = base.map { case (id, t) =>
      val w = t.split(" ")
      (id + 200000L, w.take(math.max(3, w.length * 2 / 3)).mkString(" "))
    }
    val all = (base ++ planted).toSeq.toDF("doc_id", "text")
    val est = Dedup.containmentSketchPairs(all, "doc_id", "text", estThreshold = 0.3)
    val found = Dedup.verifyContainment(est, all, "doc_id", "text", ngram = 3)
      .where(greatest(col("cont_ab"), col("cont_ba")) >= 0.3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = base.map { case (id, _) => (id, id + 200000L) }.toSet
    val recall = truth.count(found.contains).toDouble / truth.size
    assert(recall >= 0.9,
      s"containment sketch recall $recall over ${truth.size} planted quote pairs")
    // and against the exact arm on the natural corpus: every pair the
    // oracle-scale blocking arm verifies at 0.3 must also surface
    // through the sketch path (measured 5/5 at sf0.01 — the sketch arm
    // is a SUPERSET there: LSH buckets reach cross-length pairs the
    // (lang, n_chars/32) blocking can't)
    val exact = Dedup.verifyContainment(
        Dedup.blockedPairs(docs, "doc_id",
          Seq("lang" -> col("lang"), "blk" -> (col("n_chars") / lit(32)).cast("int")),
          maxBucket = 1000),
        docs, "doc_id", "text", ngram = 3)
      .where(greatest(col("cont_ab"), col("cont_ba")) >= 0.3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val sketch = Dedup.verifyContainment(
          Dedup.containmentSketchPairs(docs, "doc_id", "text", estThreshold = 0.3),
          docs, "doc_id", "text", ngram = 3)
        .where(greatest(col("cont_ab"), col("cont_ba")) >= 0.3)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val natRecall = exact.count(sketch.contains).toDouble / exact.size
      assert(natRecall >= 0.8,
        s"sketch-arm recall of the exact arm's pairs: $natRecall (${exact.size} exact pairs)")
    }
  }

  test("minhash estimator property: |est - true jaccard| small over random set pairs") {
    import spark.implicits._
    // generate 100 random doc pairs with known overlap from a 2000-word
    // universe; the 64-hash estimator's error should concentrate well
    // inside ±0.25 (binomial sd at j=0.5 is ~0.06)
    val rnd = new scala.util.Random(11)
    val universe = (0 until 2000).map(i => s"w$i")
    val pairs = (0 until 100).map { i =>
      val n = 30 + rnd.nextInt(120)
      val overlap = rnd.nextInt(n)
      val shared = rnd.shuffle(universe).take(overlap)
      val aOnly = rnd.shuffle(universe).take(n - overlap)
      val bOnly = rnd.shuffle(universe).take(n - overlap)
      val a = (shared ++ aOnly).distinct.mkString(" ")
      val b = (shared ++ bOnly).distinct.mkString(" ")
      (2L * i, a, 2L * i + 1, b)
    }
    val docs = pairs.flatMap { case (ia, a, ib, b) => Seq((ia, a), (ib, b)) }.toDF("doc_id", "text")
    val cand = pairs.map { case (ia, _, ib, _) => (ia, ib) }.toDF("a", "b")
    // est from 1-gram signatures vs exact 1-gram jaccard on the same sets
    val sigs = Dedup.minhashSigs(docs, "doc_id", "text", shingleK = 1)
    val est = cand
      .join(sigs.select(col("doc").as("a"), col("sig").as("sig_a")), "a")
      .join(sigs.select(col("doc").as("b"), col("sig").as("sig_b")), "b")
      .select(col("a"), col("b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v) / 64.0).as("est_jaccard"))
    val verified = Dedup.verifyJaccard(est, docs, "doc_id", "text").collect()
    assert(verified.length === 100)
    val errs = verified.map(r => math.abs(r.getAs[Double]("est_jaccard") - r.getAs[Double]("jaccard")))
    assert(errs.max < 0.3, s"max estimator error ${errs.max}")
    assert(errs.sum / errs.length < 0.08, s"mean estimator error ${errs.sum / errs.length}")
  }

  test("simhashSigs signatures equal the 64-conditional-sum form") {
    val sample = docs.limit(300)
    val perRow = Dedup.simhashSigs(sample, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val columnar = ColumnForms.simhashFromCounts(sample.select(col("doc_id").as("doc"),
        explode(expr("token_hashes(text)")).as("h")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perRow === columnar)
    assert(perRow.nonEmpty)
  }

  test("simhash pairs respect the hamming bound and blocking finds exact dups") {
    import spark.implicits._
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).collect()
    pairs.foreach { r =>
      assert(r.getAs[Int]("hamming") <= 3)
    }
    // identical docs → distance 0, must always be found (pigeonhole exactness)
    val d = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val dup = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 0).collect()
    assert(dup.length === 1 && dup.head.getAs[Int]("hamming") === 0)
  }

  test("matryoshka prefix search: recall vs full width, exact on self-similar prefixes") {
    import org.apache.spark.sql.functions.slice
    val emb = Graft.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 20)
    val truth = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val trunc = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    val coarse = Ann.bruteForceTopK(trunc, trunc.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(coarse).size.toDouble / truth.size
    // uniform-random vectors are the MRL worst case (no information
    // concentration in the prefix): a 16/64 prefix of iid dims still
    // preserves a nontrivial share of the true top-5 — the plumbing
    // assertion; trained MRL embeddings front-load variance and recall
    // rises accordingly. The coarse→refine composition's exactness is
    // covered by the full-width re-rank being ann_brute itself.
    assert(recall >= 0.1, s"matryoshka coarse recall $recall")
    // widening the prefix to the full 64 dims must reproduce the truth
    // set exactly — the trade is the prefix, not the machinery
    val full = Ann.bruteForceTopK(
        emb.select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding")),
        queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === truth, "64-dim slice must equal the unsliced truth set")
    // composed coarse→refine: with coarseK >= |corpus| the coarse pass
    // passes everything through and the refine IS exact brute force —
    // the graceful-degradation law (the pqTopK refine precedent)
    val n = emb.count().toInt
    val exact = Ann.mrlTopK(emb, queries, "vec_id", "embedding",
        k = 5, prefix = 16, coarseK = n)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === truth, "mrlTopK with coarseK >= corpus must equal brute force")
    // and the shipped (k=10, coarse=50) composition's recall vs brute
    // must dominate the raw 16-dim coarse pass at the same k
    val composed = Ann.mrlTopK(emb, queries, "vec_id", "embedding",
        k = 5, prefix = 16, coarseK = 50)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val composedRecall = truth.intersect(composed).size.toDouble / truth.size
    assert(composedRecall >= recall,
      s"refine must not lose recall vs the raw coarse pass: $composedRecall < $recall")
  }

  test("ANN LSH recall vs brute force") {
    val emb = Graft.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 20)
    val truth = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.lshTopK(emb, queries, "vec_id", "embedding", k = 5, nBits = 6, probeBits = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(approx).size.toDouble / truth.size
    // uniform-random 64-dim vectors are SRP-LSH's worst case (no cluster
    // structure): the useful assertions are plumbing ones — buckets join,
    // multiprobe recovers a nontrivial share, scores are valid. Real
    // embedding corpora cluster and recall rises with them.
    assert(recall >= 0.2, s"ANN recall $recall")
    // and every reported neighbor must be a real row with sane cosine
    Ann.lshTopK(emb, queries, "vec_id", "embedding", k = 5, nBits = 6, probeBits = 6)
      .collect().foreach { r =>
        val c = r.getAs[Double]("cos")
        assert(c >= -1.0001 && c <= 1.0001)
      }
  }

  test("PQ ANN with corpus-sized refine degrades to exact brute force") {
    val emb = Graft.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 10)
    val truth = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Ann.pqTopK(emb, queries, "vec_id", "embedding", k = 5,
        m = 8, codebookBits = 4, refineK = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full === truth, "full-refine PQ must equal exact top-k")
  }

  test("PQ ANN recall at moderate refine beats the candidate-free floor") {
    val emb = Graft.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 20)
    val truth = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.pqTopK(emb, queries, "vec_id", "embedding", k = 5,
        m = 8, codebookBits = 6, refineK = 50)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(approx).size.toDouble / truth.size
    // uniform-random vectors are the worst case for any quantizer; a
    // refine set of 10% of the corpus should still recover well over
    // half of the true top-k (real clustered corpora do far better)
    assert(recall >= 0.5, s"PQ recall $recall")
  }

  test("ann_recall_report certifies in-range recall with the shared floor per method") {
    // the driver-visible recall contract: one row per approximate path,
    // recall@10 against the brute-force truth computed inside Spark.
    // Floor 0.2 matches the per-method recall tests above — the synthetic
    // corpus is uniform-random 64-dim vectors, every quantizer's worst
    // case; clustered real corpora score far higher.
    val report = SparkEntry.queries("ann_recall_report")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(report.keySet === Set("lsh", "ivf", "pq", "ivfpq"),
      s"one row per method; got ${report.keySet}")
    report.foreach { case (m, rec) =>
      assert(rec >= 0.0 && rec <= 1.0, s"$m recall out of range: $rec")
      assert(rec >= 0.2, s"$m recall $rec below the certification floor")
    }
  }

  test("connected components resolves pair chains to min-id clusters") {
    import spark.implicits._
    // chain 1-2-3 (never directly 1-3), plus a separate pair, plus a
    // 4-node path 20-21-22-23 whose min must propagate two hops
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connected components: salted path-halving yields identical components") {
    import spark.implicits._
    // a star cluster (every node paired with canonical 0 — the shape that
    // concentrates one comp value), a chain, and a plain pair
    val pairs = ((1L to 40L).map(i => (0L, i)) ++
      Seq((100L, 101L), (101L, 102L), (200L, 201L))).toDF("a", "b")
    val plain = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Dedup.connectedComponents(pairs, saltBuckets = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted === plain, "salting is an execution-strategy switch, not a semantic one")
    assert((0L to 40L).forall(n => salted(n) == 0L))
    assert(salted(102L) == 100L && salted(201L) == 200L)
  }

  test("connected components: reliable-checkpoint mode yields identical components") {
    import spark.implicits._
    // the production mode (checkpoint against a directory, survives
    // executor loss) must be a pure execution-strategy switch: same
    // labels as the localCheckpoint bench mode, and superseded rounds'
    // checkpoint files must be cleaned up as the algorithm advances
    val dir = new java.io.File(ProbeUtil.scratchDir("ckpt"))
    try {
      val pairs = ((2L, 1L) +: (2L, 3L) +: (10L, 11L) +:
        (100L until 160L).map(i => (i, i + 1))).toDF("a", "b")
      val local = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val reliable = Dedup.connectedComponents(pairs,
          checkpointDir = Some(dir.getAbsolutePath)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable === local, "checkpoint mode must not change the result")
      assert((100L to 160L).forall(n => reliable(n) == 100L),
        "61-node chain must fully collapse through reliable checkpoints")
    } finally {
      // the call set the SparkContext-global checkpoint dir — clear it so
      // later tests don't silently auto-switch to reliable mode against a
      // deleted directory (null clears: SparkContext wraps in Option)
      spark.sparkContext.setCheckpointDir(null)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("connected components: convergence probe tells an empty frame from an overflowed sum") {
    def sum(v: Long) = java.math.BigDecimal.valueOf(v)
    // no label rows: nothing to propagate, whatever the (null) sum
    assert(Dedup.labelSumConverged(null, 0L, null))
    assert(Dedup.labelSumConverged(sum(5L), 0L, null))
    // rows present but a null sum: the decimal sum overflowed, which the
    // probe cannot judge — it must throw, not read it as converged
    val e = intercept[IllegalStateException](Dedup.labelSumConverged(sum(5L), 3L, null))
    assert(e.getMessage.contains("overflow"))
    // a non-null sum converges only when it equals the previous round's
    assert(!Dedup.labelSumConverged(null, 3L, sum(5L)), "first round has nothing to compare")
    assert(!Dedup.labelSumConverged(sum(6L), 3L, sum(5L)))
    assert(Dedup.labelSumConverged(sum(5L), 3L, new java.math.BigDecimal("5.0")))
  }

  test("connected components: session checkpoint dir auto-enables reliable mode; conflicts throw") {
    import spark.implicits._
    val dir = new java.io.File(ProbeUtil.scratchDir("autockpt"))
    val other = new java.io.File(ProbeUtil.scratchDir("otherckpt"))
    try {
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      val pairs = ((1L, 2L) +: (100L until 120L).map(i => (i, i + 1))).toDF("a", "b")
      // checkpointDir = None, but the session has a checkpoint store →
      // rounds must go through it (reliable), visible as surviving
      // final-round checkpoint files under the dir
      val labels = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((100L to 120L).forall(n => labels(n) == 100L))
      def rddDirs(f: java.io.File): Int =
        Option(f.listFiles()).map(_.count(_.getName.startsWith("rdd-"))).getOrElse(0)
      val inner = Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory)
      assert(inner.exists(rddDirs(_) > 0),
        s"auto-reliable mode must checkpoint into the session dir; found ${inner.toSeq}")
      // redirecting the global setting to a DIFFERENT dir must throw, not
      // silently re-point unrelated jobs' checkpoints
      intercept[IllegalArgumentException] {
        Dedup.connectedComponents(pairs, checkpointDir = Some(other.getAbsolutePath))
      }
      // the SAME dir is accepted (no-op against the existing setting)
      val again = Dedup.connectedComponents(pairs,
          checkpointDir = Some(dir.getAbsolutePath)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(again === labels)
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir); rm(other)
    }
  }

  test("resolve keeps exactly one canonical doc per cluster and passes untouched docs through") {
    import spark.implicits._
    val corpus = Seq(1L, 2L, 3L, 10L, 11L, 99L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val kept = Dedup.resolve(corpus, pairs, "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // cluster {1,2,3} → keep 1; {10,11} → keep 10; 99 untouched → kept
    assert(kept === Set(1L, 10L, 99L))
  }

  test("resolveBy keeps the highest-score cluster member, ties to the smallest id") {
    import spark.implicits._
    val corpus = Seq((1L, "a", 5L), (2L, "b", 9L), (3L, "c", 9L), (10L, "d", 1L),
        (11L, "e", 7L), (99L, "f", 0L))
      .toDF("doc_id", "text", "score")
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val kept = Dedup.resolveBy(corpus, pairs, "doc_id", col("score"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // {1,2,3}: 2 and 3 tie at score 9 → keep 2; {10,11}: 11 wins on score;
    // 99 untouched → kept
    assert(kept === Set(2L, 11L, 99L))
  }

  test("decontamination flags only corpus docs sharing a strict 8-gram with the eval set") {
    import spark.implicits._
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      // contains the eval doc's first 8 tokens verbatim → contaminated
      (100L, s"prefix words then alpha beta gamma delta epsilon zeta eta theta suffix"),
      // same vocabulary, different order → no shared 8-gram
      (101L, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
      // shorter than 8 tokens → produces no grams, can never contaminate
      (102L, "alpha beta gamma delta"),
      (103L, "completely unrelated words about something else entirely here now")
    ).toDF("doc_id", "text")
    val flagged = Dedup.contaminatedIds(corpus,
        Seq((1L, evalDoc)).toDF("doc_id", "text"), "doc_id", "text", n = 8)
      .collect().map(_.getLong(0)).toSet
    assert(flagged === Set(100L))
  }

  test("embedding-cosine near-dup: every pair verified, planted dup found") {
    import spark.implicits._
    val emb = Graft.embeddings(spark, sf)
    Ann.cosinePairs(emb, "vec_id", "embedding", threshold = 0.25, nBits = 6, probeBits = 3)
      .collect().foreach(r => assert(r.getAs[Double]("cos") >= 0.25))
    // a planted exact duplicate must land in the same bucket (cos = 1)
    val v = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val planted = Seq((900000L, v), (900001L, v)).toDF("vec_id", "embedding")
    val pairs = Ann.cosinePairs(emb.select("vec_id", "embedding").unionByName(planted), "vec_id", "embedding",
        threshold = 0.99, nBits = 6, probeBits = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((900000L, 900001L)) && pairs.contains((0L, 900000L)))
  }

  test("IVF ANN: probing more lists strictly improves recall; full probe is exact") {
    // nLists = 64 on purpose: centroids travel via a Spark broadcast (one
    // udf node in the plan), so the list count must NOT blow up plan size
    // — this test would OOM the driver's plan text with the old
    // literal-centroid form at 64 lists
    val nLists = 64
    val emb = Graft.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 20)
    val truth = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nProbe: Int): Double = {
      val found = Ann.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
        nLists = nLists, nProbe = nProbe)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      truth.intersect(found).size.toDouble / truth.size
    }
    val rPartial = recallAt(8)
    val rFull = recallAt(nLists) // probing every list == brute force
    assert(rFull === 1.0, s"full probe must be exact, got $rFull")
    assert(rPartial >= 0.2 && rPartial <= rFull, s"partial probe recall $rPartial")
  }

  test("clusterSample: exactly nPer per list (or the whole list), brute-rank equal, flattens density") {
    val emb = Graft.embeddings(spark, sf)
    val model = Ann.trainIvf(emb, "vec_id", "embedding", nLists = 8)
    val nPer = 10
    val out = Ann.clusterSample(emb, "vec_id", "embedding", nPer, model)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    // brute-force replay: assignment via full-probe ivfTopK machinery is
    // overkill — recompute assignment with the same frozen centroids
    val cents = model.centroids.map(c => (c, math.sqrt(c.map(x => x * x).sum)))
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    def assign(v: Array[Double]): Int = {
      val vn = math.sqrt(v.map(x => x * x).sum)
      cents.zipWithIndex.map { case ((c, cn), i) =>
        val s = if (vn == 0 || cn == 0) 0.0
                else v.indices.map(j => v(j) * c(j)).foldLeft(0.0)(_ + _) / (vn * cn)
        (-s, i)
      }.min._2
    }
    def h(id: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes)
          .map("%02x".format(_)).mkString.take(15), 16)
    val expected = vecs.groupBy { case (_, v) => assign(v) }.toSeq.flatMap { case (list, members) =>
      members.map(_._1).sortBy(id => (h(id), id)).take(nPer)
        .zipWithIndex.map { case (id, i) => (list, id, i + 1) }
    }.toSet
    assert(out.toSet === expected, "sample must equal the brute-force per-list ranked draw")
    // each list keeps min(nPer, |list|) members
    val sizes = vecs.groupBy { case (_, v) => assign(v) }.view.mapValues(_.length).toMap
    val got = out.groupBy(_._1).view.mapValues(_.length).toMap
    sizes.foreach { case (l, n) => assert(got.getOrElse(l, 0) === math.min(nPer, n), s"list $l") }
    // density flattening: the sample's largest-list share never exceeds
    // the corpus's largest-list share (the point of the operator)
    val corpusShare = sizes.values.max.toDouble / vecs.length
    val sampleShare = got.values.max.toDouble / out.length
    assert(sampleShare <= corpusShare + 1e-9,
      s"balanced sample share $sampleShare must not exceed corpus share $corpusShare")
  }

  test("IVFADC: full probe + corpus-sized refine degrades to exact brute force") {
    val emb = Graft.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 10)
    val truth = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Ann.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 5,
        nLists = 16, nProbe = 16, m = 8, codebookBits = 6, refineK = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full === truth,
      "probing every list with corpus-sized refine must equal brute force")
  }

  test("IVFADC: moderate probe/refine recall beats the floor, scores are true cosines") {
    val emb = Graft.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 20)
    val truth = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Ann.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 5,
      nLists = 16, nProbe = 8, m = 8, codebookBits = 6, refineK = 50)
    val found = got.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(found).size.toDouble / truth.size
    assert(recall >= 0.5, s"IVFADC recall@5 too low: $recall")
    // reported scores are exact cosines of the raw vectors (the refine
    // contract), not ADC estimates: spot-check against brute force where
    // the pair appears in both
    val bruteCos = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    got.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteCos.get(key).foreach(c => assert(c === r.getDouble(3),
        s"IVFADC must report exact cosine for $key"))
    }
  }

  test("LSH bucket cap drops mega-cluster candidates, keeps normal near-dups") {
    import spark.implicits._
    val normal = (0L until 100L).map(i =>
      (i, s"regular document $i with tokens alpha$i beta$i gamma$i delta$i epsilon$i"))
    // a planted near-dup pair among the normal docs
    val pair = Seq((500L, normal(7)._2.replace("delta7", "MUTATED")))
    // a 300-copy boilerplate mega-cluster (identical text → identical
    // signature → one bucket per band of size 300)
    val mega = (1000L until 1300L).map(i => (i, "boilerplate page exactly repeated verbatim"))
    val docs = (normal ++ pair ++ mega).toDF("doc_id", "text")
    val capped = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val uncapped = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5, maxBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // capped ⊆ uncapped, planted pair survives, mega-cluster pairs gone
    assert(capped.toSet.subsetOf(uncapped.toSet))
    assert(capped.contains((7L, 500L)) || capped.contains((500L, 7L)),
      s"planted near-dup must survive the cap; got ${capped.length} pairs")
    assert(!capped.exists { case (a, b) => a >= 1000L && b >= 1000L },
      "mega-bucket pairs must be dropped by the cap")
    assert(uncapped.count { case (a, b) => a >= 1000L && b >= 1000L } === 300 * 299 / 2,
      "uncapped run emits the full quadratic mega-cluster (the shape the cap prevents)")
  }

  test("edit-distance bucket cap bounds a planted mega-bucket, keeps normal matches") {
    import spark.implicits._
    val normal = Seq(
      (1L, "alpha"), (2L, "alpho"),   // dist-1 pair that must survive
      (3L, "gamma"), (4L, "delta"))
    // 400 copies of one key: every variant bucket of that key has 400
    // members → k²/2 Levenshtein calls on one task without the cap
    val mega = (1000L until 1400L).map(i => (i, "boilerplate"))
    val names = (normal ++ mega).toDF("k", "name")
    val capped = Dedup.editDistancePairs(names, "k", "name", maxDist = 1, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.editDistancePairs(names, "k", "name", maxDist = 1, maxBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped))
    assert(capped.contains((1L, 2L)), s"planted dist-1 pair must survive; got $capped")
    assert(!capped.exists { case (a, b) => a >= 1000L && b >= 1000L },
      "mega-bucket pairs must be dropped by the cap")
    assert(uncapped.count { case (a, b) => a >= 1000L && b >= 1000L } === 400 * 399 / 2)
  }

  test("blockedPairs caps an oversized block, keeps pairs from healthy blocks") {
    import spark.implicits._
    // one healthy 3-member block (lang=en, band 0) and one 150-member
    // mega-block (lang=en, band 9): with maxBucket = 100 the mega-block's
    // 150·149/2 pairs are dropped whole, the healthy block's 3 survive
    val healthy = Seq((1L, "en", 10), (2L, "en", 12), (3L, "en", 20))
    val mega = (100L until 250L).map(i => (i, "en", 300))
    val docs = (healthy ++ mega).toDF("doc_id", "lang", "n_chars")
    def pairs(cap: Int) = Dedup.blockedPairs(docs, "doc_id",
        Seq("lang" -> col("lang"), "blk" -> (col("n_chars") / lit(32)).cast("int")),
        maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(100)
    val uncapped = pairs(0)
    assert(capped === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(uncapped.size === 3 + 150 * 149 / 2,
      "uncapped run emits the full quadratic mega-block (the shape the cap prevents)")
  }

  test("crossBlockedPairs caps each side's oversized blocks independently") {
    import spark.implicits._
    // batch: 2 healthy rows in block A, 150 rows in mega-block B;
    // corpus: 3 rows in A, 200 rows in B. With maxBucket = 100 block B
    // drops on BOTH sides (no 150x200 fan-out); block A's 2x3 pairs
    // survive. Uncapped emits the full cross product per block.
    val batch = (Seq((1L, "en", 10), (2L, "en", 12)) ++
      (100L until 250L).map(i => (i, "en", 300))).toDF("doc_id", "lang", "n_chars")
    val corpus = (Seq((51L, "en", 15), (52L, "en", 20), (53L, "en", 25)) ++
      (500L until 700L).map(i => (i, "en", 300))).toDF("doc_id", "lang", "n_chars")
    def pairs(cap: Int) = Dedup.crossBlockedPairs(batch, corpus, "doc_id",
        Seq("lang" -> col("lang"), "blk" -> (col("n_chars") / lit(32)).cast("int")),
        maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(100)
    assert(capped === Set((1L, 51L), (1L, 52L), (1L, 53L),
      (2L, 51L), (2L, 52L), (2L, 53L)))
    assert(pairs(0).size === 6 + 150 * 200,
      "uncapped run emits the full cross-block fan-out (the shape the cap prevents)")
  }

  test("crossBlockedPairsAgainst over a persisted cappedBlockSide equals crossBlockedPairs (r18)") {
    import spark.implicits._
    val batch = (Seq((1L, "en", 10), (2L, "en", 12)) ++
      (100L until 250L).map(i => (i, "en", 300))).toDF("doc_id", "lang", "n_chars")
    val corpus = (Seq((51L, "en", 15), (52L, "en", 20), (53L, "en", 25)) ++
      (500L until 700L).map(i => (i, "en", 300))).toDF("doc_id", "lang", "n_chars")
    val blocks = Seq("lang" -> col("lang"), "blk" -> (col("n_chars") / lit(32)).cast("int"))
    val dir = ProbeUtil.scratchDir("blkside")
    try {
      Dedup.cappedBlockSide(corpus, "doc_id", blocks, as = "b", maxBucket = 100)
        .write.mode("overwrite").parquet(dir)
      val viaStore = Dedup.crossBlockedPairsAgainst(batch, spark.read.parquet(dir),
          "doc_id", blocks, maxBucket = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val direct = Dedup.crossBlockedPairs(batch, corpus, "doc_id", blocks, maxBucket = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaStore === direct)
    } finally ProbeUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("banded-Hamming monoculture: the cap's observe metrics report the dropped mega-buckets") {
    import spark.implicits._
    // the SCALE.md skew-stress shape in miniature: 600 assets from one
    // template (6 of 8 bands pinned, 8 random bits in each of the two
    // low hi-bands) + 3 healthy distinct hashes. With maxBand = 100 the
    // six pinned bands are mega-buckets the cap must drop WHOLE, and the
    // loss must be OBSERVABLE: dropped_buckets >= 6, max_bucket = the
    // cluster's distinct-fingerprint count, zero mega-bucket pairs out.
    val cluster = (0L until 600L).map { i =>
      val rnd = scala.util.hashing.MurmurHash3.stringHash(i.toString).toLong & 0xffffL
      (i, 0x5a5a5a5a5a5a0000L | rnd, 0x3c3c3c3c3c3c3c3cL)
    }
    val healthy = Seq((1000L, 1L, 2L), (1001L, 1L, 3L), (1002L, 4L, 2L))
    val h = (cluster ++ healthy).toDF("asset_id", "dhash_hi", "dhash_lo")
    val df = graft.queries.PipelineQueries
      .bandedHammingPairs(h, "dhash_hi", "dhash_lo", 3, maxBand = 100)
    df.queryExecution.toRdd.foreach(_ => ())
    val m = df.queryExecution.observedMetrics
      .filter(_._1.contains("banded_hamming.cap")).values
    assert(m.nonEmpty, "the cap's observe node must be in the executed plan")
    val droppedBuckets = m.map(_.getAs[Long]("dropped_buckets")).sum
    val maxBucket = m.map(_.getAs[Long]("max_bucket")).max
    val distinctCluster = cluster.map(c => (c._2, c._3)).distinct.size
    assert(droppedBuckets >= 6,
      s"each pinned band must surface as a dropped mega-bucket: $droppedBuckets")
    assert(maxBucket === distinctCluster.toLong,
      s"max_bucket must report the cluster's canonical size: $maxBucket vs $distinctCluster")
    // no pair from the pinned mega-buckets survives; healthy pairs none
    // here (3 distinct hashes share no band value by construction check)
    val pairs = df.collect()
    assert(pairs.forall { r =>
      val a = r.getAs[Long]("asset_a"); val b = r.getAs[Long]("asset_b")
      !(a < 600 && b < 600) || r.getAs[Int]("hamming") <= 3
    })
  }

  test("filteredTopK equals per-label brute force (the filter prunes, never reorders)") {
    import org.apache.spark.sql.functions._
    val emb = Graft.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = key(graft.ann.Ann.filteredTopK(
      emb, queries, "vec_id", "embedding", Seq("label"), k = 10))
    val labels = queries.select("label").distinct().collect().map(_.getInt(0))
    val want = labels.map { l =>
      key(graft.ann.Ann.bruteForceTopK(
        emb.where(col("label") === l), queries.where(col("label") === l),
        "vec_id", "embedding", k = 10))
    }.reduce(_ ++ _)
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("chunkDedup: chunks reassemble to the document; shared passages dedup to first occurrence") {
    import spark.implicits._
    // ~300-char passage shared verbatim by two otherwise-distinct docs:
    // content-defined boundaries inside the shared region land at the
    // same relative positions in both docs, so its interior chunks are
    // byte-identical and must dedup to the first (smaller doc_id) copy
    val shared = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor " * 4
    val fixture = Seq(
      (1L, "unique prefix one " + shared + " unique suffix one"),
      (2L, "completely different preamble " + shared + " another ending"))
    val docs = fixture.toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text").collect()
    // spans are a partition of the document: chunks in idx order
    // concatenate back to the original text
    for ((id, txt) <- fixture) {
      val rows = out.filter(_.getLong(0) == id).sortBy(_.getLong(1))
      assert(rows.map(_.getString(2)).mkString === txt, s"doc $id must reassemble")
    }
    // exactly one keeper per content, at the smallest (doc_id, chunk_idx)
    out.groupBy(_.getString(2)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r.getLong(0), r.getLong(1)))
      assert(sorted.head.getBoolean(3), "first instance must keep")
      assert(sorted.tail.forall(!_.getBoolean(3)), "later instances must drop")
    }
    assert(out.exists(r => !r.getBoolean(3)), "the shared passage must produce dropped chunks")
    // non-vacuity on the corpus at test SF: repeated passages exist
    val corpus = Dedup.chunkDedup(Graft.documents(spark, sf), "doc_id", "text")
    assert(corpus.where(!col("keep")).count() > 0)
  }

  test("spanStats equals brute-force string-gram counting; zero/short/dup docs behave") {
    import spark.implicits._
    val span = "the quick brown fox jumps over the lazy sleeping dog tonight" // 11 tokens
    val fixture = Seq(
      (1L, "intro words here " + span + " closing remark alpha"),
      (2L, "different opening phrase " + span + " other tail beta"),
      (3L, "an entirely unique document with plenty of its own words to form many grams"),
      (4L, "an entirely unique document with plenty of its own words to form many grams"),
      (5L, "tiny short doc"), // < 8 tokens → distinct-token fallback
      (6L, ""))               // token-less → n_grams 0, dup_frac 0.0
    val out = Dedup.spanStats(fixture.toDF("doc_id", "text"), "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // brute-force expectation over gram STRINGS (hash counts must agree
    // unless xxhash64 collides, impossible to matter at fixture size)
    val grams = fixture.map { case (id, txt) =>
      val toks = txt.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq
      id -> (if (toks.length >= 8) toks.sliding(8).map(_.mkString(" ")).toSet
             else toks.toSet)
    }.toMap
    for ((id, gs) <- grams) {
      val nDup = gs.count(g => grams.exists { case (o, og) => o != id && og.contains(g) })
      val frac = if (gs.isEmpty) 0.0
        else BigDecimal(nDup.toDouble / gs.size).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(id) === ((gs.size.toLong, nDup.toLong, frac)), s"doc $id")
    }
    assert(out(1L)._2 > 0 && out(2L)._2 > 0, "the planted shared span must count on both sides")
    assert(out(3L) === out(4L) && out(3L)._3 === 1.0, "exact duplicates are fully span-covered")
    assert(out(5L)._2 === 0L && out(6L) === ((0L, 0L, 0.0)))
    // corpus non-vacuity at test SF: duplicated spans exist
    assert(Dedup.spanStats(docs, "doc_id", "text").where(col("n_dup") > 0).count() > 0)
  }

  test("spanRemove equals brute-force span surgery; canonical doc keeps, copies lose the span") {
    import spark.implicits._
    val k = 8
    val span = "the quick brown fox jumps over the lazy sleeping dog tonight" // 11 tokens
    val fixture = Seq(
      (1L, "Intro words HERE " + span + " closing remark alpha"),  // canonical: untouched
      (2L, "different opening phrase " + span + " other tail beta"), // loses exactly the span
      (3L, "an entirely unique document with plenty of its own words to form many grams"),
      (4L, "an entirely unique document with plenty of its own words to form many grams"), // loses ALL
      (5L, "tiny short doc"),  // < k tokens → token-normalized pass-through
      (6L, ""))                // token-less → (0, 0, "")
    val out = Dedup.spanRemove(fixture.toDF("doc_id", "text"), "doc_id", "text", k = k)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // brute force over gram STRINGS, mirroring the documented semantics
    val toks = fixture.map { case (id, t) =>
      id -> t.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq }.toMap
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    for ((id, ts) <- toks if ts.length >= k; g <- ts.sliding(k))
      gramDocs.updateWith(g.mkString(" "))(s => Some(s.getOrElse(Set.empty) + id))
    for ((id, ts) <- toks) {
      val rm = (0 to ts.length - k).map { p =>
        val docs = gramDocs(ts.slice(p, p + k).mkString(" "))
        docs.size > 1 && id != docs.min
      }
      val covered = ts.indices.map(t =>
        (math.max(0, t - k + 1) to math.min(t, ts.length - k)).exists(p => p >= 0 && rm(p)))
      val keptTxt = ts.indices.filterNot(covered).map(ts).mkString(" ")
      assert(out(id) === ((ts.length.toLong, covered.count(identity).toLong, keptTxt)), s"doc $id")
    }
    assert(out(1L)._2 === 0L, "the canonical (min-id) holder of the span keeps everything")
    assert(out(2L)._2 === 11L && !out(2L)._3.contains("quick"),
      "the later doc loses exactly the 11 shared-span tokens")
    assert(out(2L)._3.startsWith("different opening phrase") && out(2L)._3.endsWith("other tail beta"),
      "unique content around the removed span survives")
    assert(out(4L) === ((14L, 14L, "")), "an exact duplicate doc is fully removed")
    assert(out(5L) === ((3L, 0L, "tiny short doc")) && out(6L) === ((0L, 0L, "")))
    // corpus non-vacuity + conservation: removal only ever shrinks
    val corpus = Dedup.spanRemove(docs, "doc_id", "text")
    assert(corpus.where(col("n_removed") > 0).count() > 0)
    assert(corpus.where(col("n_removed") > col("n_tokens")).count() === 0)
  }

  test("boilerplateRemove strips corpus-frequent lines, keeps body text in order") {
    import spark.implicits._
    // 20 docs share the 2-line header "cookie banner accept all"; bodies
    // are unique. maxDfFrac 0.5 of 23 keyed docs (the token-less doc
    // counts in the denominator) → threshold 12 ≤ 21: the header goes,
    // the bodies stay, in original order.
    val fixture =
      (1L to 20L).map(i => (i, s"cookie banner accept all body$i text$i tail$i extra$i")) ++
      Seq((21L, "cookie banner accept all"),            // all-boilerplate → ""
          (22L, "completely unique content right here"),
          (23L, ""))                                    // token-less → drops out
    val out = Dedup.boilerplateRemove(fixture.toDF("doc_id", "text"), "doc_id", "text",
        lineWords = 2, maxDfFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(!out.contains(23L), "a token-less doc carries no lines")
    assert(out(1L) === ((4L, 2L, "body1 text1 tail1 extra1")),
      "both header lines removed, body kept in order")
    (2L to 20L).foreach(i => assert(out(i) === ((4L, 2L, s"body$i text$i tail$i extra$i"))))
    assert(out(21L) === ((2L, 2L, "")), "an all-boilerplate doc empties out")
    assert(out(22L) === ((3L, 0L, "completely unique content right here")),
      "below-threshold lines survive untouched (incl. the odd 1-word tail line)")
    // threshold edge: at maxDfFrac = 1.0 the bar is N = 23, and the
    // header's df of 21 (docs 1-20 plus doc 21) is short — survives
    val kept = Dedup.boilerplateRemove(fixture.toDF("doc_id", "text"), "doc_id", "text",
        lineWords = 2, maxDfFrac = 1.0)
      .agg(org.apache.spark.sql.functions.sum("n_removed")).collect()(0).getLong(0)
    assert(kept === 0L, "df=21 < threshold 23: nothing removed")
    // corpus non-vacuity + conservation at test SF
    val corpus = Dedup.boilerplateRemove(docs, "doc_id", "text")
    assert(corpus.where(col("n_removed") > 0).count() > 0)
    assert(corpus.where(col("n_removed") > col("n_lines")).count() === 0)
  }

  test("decontamSpans removes exactly the eval spans, salvages the rest, gates short quotes") {
    import spark.implicits._
    val k = 8
    val passage = "the held out benchmark answer passage nobody should ever train on verbatim text" // 13 tokens
    val longQuote = passage + " plus three more tokens" // 17 tokens > gate 16
    val shortQuote = "one shared eight gram phrase right here now" // 8 tokens < gate
    val eval = Seq((100L, s"$longQuote and $shortQuote")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"unique intro alpha beta $longQuote unique outro gamma delta"),  // loses the 17
      (2L, "a totally unrelated document with plenty of original words in it"), // untouched
      (3L, s"$longQuote and $shortQuote"),                                    // exact eval copy → ""
      (4L, s"my own framing words then $shortQuote then my conclusion words"), // short quote survives
      (5L, ""))                                                                // token-less
    val out = Dedup.decontamSpans(corpus.toDF("doc_id", "text"), eval, "doc_id", "text",
        k = k, minSpanTokens = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L)._2 === 17L && !out(1L)._3.contains("benchmark"),
      "doc 1 loses exactly the 17 quoted tokens")
    assert(out(1L)._3.startsWith("unique intro alpha beta") &&
      out(1L)._3.endsWith("unique outro gamma delta"), "unique content survives around the span")
    assert(out(2L)._2 === 0L, "untainted doc untouched")
    assert(out(3L) === ((26L, 26L, "")), "an exact eval copy is fully removed — no canonical keeper")
    assert(out(4L)._2 === 0L && out(4L)._3.contains("shared eight gram"),
      "a sub-gate quote survives (span gate)")
    assert(out(5L) === ((0L, 0L, "")))
    // the salvage contrast: contaminatedIds would DROP docs 1, 3 and 4
    val dropped = Dedup.contaminatedIds(corpus.toDF("doc_id", "text"), eval,
      "doc_id", "text", n = k).collect().map(_.getLong(0)).toSet
    assert(dropped === Set(1L, 3L, 4L), "whole-doc decontam loses all three")
    // corpus non-vacuity + conservation at test SF
    val cs = Dedup.decontamSpans(docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0), "doc_id", "text", k = k, minSpanTokens = 16)
    assert(cs.where(col("n_removed") > 0).count() > 0)
    assert(cs.where(col("n_removed") > col("n_tokens")).count() === 0)
  }

  test("spanRemove minSpanTokens: short shared phrases survive, long spans still go") {
    import spark.implicits._
    val k = 8
    // an 11-token shared span: 4 consecutive duplicated gram starts →
    // covers 11 tokens. Threshold 12 must keep it; threshold 10 removes.
    val span = "the quick brown fox jumps over the lazy sleeping dog tonight"
    val fixture = Seq(
      (1L, "intro words here " + span + " closing remark alpha"),
      (2L, "different opening phrase " + span + " other tail beta"),
      (3L, "an entirely unique document with plenty of its own words to form many grams"),
      (4L, "an entirely unique document with plenty of its own words to form many grams"))
    val df = fixture.toDF("doc_id", "text")
    def run(minSpan: Int) = Dedup.spanRemove(df, "doc_id", "text", k = k,
        minSpanTokens = minSpan)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    // brute force with the run-length gate
    val toks = fixture.map { case (id, t) =>
      id -> t.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq }.toMap
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    for ((id, ts) <- toks if ts.length >= k; g <- ts.sliding(k))
      gramDocs.updateWith(g.mkString(" "))(s => Some(s.getOrElse(Set.empty) + id))
    def brute(minSpan: Int): Map[Long, (Long, String)] = toks.map { case (id, ts) =>
      val rm = (0 to ts.length - k).map { p =>
        val ds = gramDocs(ts.slice(p, p + k).mkString(" "))
        ds.size > 1 && id != ds.min
      }
      // maximal runs of rm gram starts; keep only runs >= minSpan-k+1
      val rmEff = Array.fill(rm.length)(false)
      var p = 0
      while (p < rm.length) {
        if (rm(p)) {
          var q = p; while (q + 1 < rm.length && rm(q + 1)) q += 1
          if (q - p + 1 >= minSpan - k + 1) (p to q).foreach(rmEff(_) = true)
          p = q + 1
        } else p += 1
      }
      val covered = ts.indices.map(t =>
        (math.max(0, t - k + 1) to math.min(t, ts.length - k)).exists(x => x >= 0 && rmEff(x)))
      id -> ((covered.count(identity).toLong,
        ts.indices.filterNot(covered).map(ts).mkString(" ")))
    }
    for (minSpan <- Seq(8, 10, 12, 16)) {
      assert(run(minSpan) === brute(minSpan), s"minSpanTokens=$minSpan")
    }
    // the boundary claims, stated directly
    assert(run(10)(2L)._1 === 11L, "an 11-token span goes at threshold 10")
    assert(run(12)(2L)._1 === 0L, "an 11-token span SURVIVES threshold 12")
    assert(run(12)(4L)._2 === "", "a full-duplicate doc is removed at any threshold <= its length")
    assert(run(8) === brute(8) && run(0)(2L)._1 === 11L,
      "default threshold is inert (every duplicated gram goes)")
  }

  test("quantizer training is bit-deterministic across independent runs") {
    // the freeze-the-model oracles rest on this: the entry and the
    // generator can train independently and still describe the same
    // model, because the draw is hash-ordered and k-means ties are fixed
    val emb = Graft.embeddings(spark, sf)
    val iv1 = Ann.trainIvf(emb, "vec_id", "embedding", nLists = 8)
    val iv2 = Ann.trainIvf(emb, "vec_id", "embedding", nLists = 8)
    assert(iv1.centroids.map(_.toSeq).toSeq === iv2.centroids.map(_.toSeq).toSeq)
    val pq1 = Ann.trainPq(emb, "vec_id", "embedding", m = 4, codebookBits = 4)
    val pq2 = Ann.trainPq(emb, "vec_id", "embedding", m = 4, codebookBits = 4)
    assert(pq1.books.map(_.map(_.toSeq).toSeq).toSeq === pq2.books.map(_.map(_.toSeq).toSeq).toSeq)
    assert(pq1.bounds.toSeq === pq2.bounds.toSeq)
    val ip1 = Ann.trainIvfPq(emb, "vec_id", "embedding", nLists = 8, m = 4, codebookBits = 4)
    val ip2 = Ann.trainIvfPq(emb, "vec_id", "embedding", nLists = 8, m = 4, codebookBits = 4)
    assert(ip1.centroids.map(_.toSeq).toSeq === ip2.centroids.map(_.toSeq).toSeq)
    assert(ip1.books.map(_.map(_.toSeq).toSeq).toSeq === ip2.books.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("blockedPairs(uncapped) equals brute-force within-block pairing") {
    // deterministic pseudo-random fixture: 200 docs hashed into 3 langs
    // x 10 length bands; the uncapped operator must emit EXACTLY the
    // brute-force set { (a, b) | a < b, same (lang, band) }
    val docs = spark.range(200).select(
      col("id").as("doc_id"),
      pmod(xxhash64(col("id")), lit(3)).cast("string").as("lang"),
      pmod(xxhash64(col("id"), lit(7)), lit(320)).as("n_chars"))
    val got = Dedup.blockedPairs(docs, "doc_id",
        Seq("lang" -> col("lang"), "blk" -> (col("n_chars") / lit(32)).cast("int")),
        maxBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = docs.collect().map(r =>
      (r.getLong(0), r.getString(1), (r.getLong(2).toDouble / 32).toInt))
    val expect = (for {
      (a, la, ba) <- rows; (b, lb, bb) <- rows
      if a < b && la == lb && ba == bb
    } yield (a, b)).toSet
    assert(expect.nonEmpty, "fixture must produce at least one within-block pair")
    assert(got === expect)
  }

  test("SRP cap drops only intra-hot-bucket pairs; capped vectors still probe out") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    // The r-side-only cap contract: vectors in an oversized base bucket
    // lose their INTRA-bucket pairs but keep probing into healthy
    // neighboring buckets. Construct exactly that: a planted mega-cluster
    // (copies of u, ids BELOW every real id so the mega vector is the
    // probe/l side of each cross pair) and a real witness w whose base
    // bucket differs from u's in exactly one probed bit.
    val emb = Graft.embeddings(spark, sf).select("vec_id", "embedding")
    val nBits = 4
    val byId = emb.select(col("vec_id"), col("embedding"),
        VectorFunctions.srpBucketNative("embedding", nBits).as("b0"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val (_, u, ub) = byId.find(_._1 == 0L).get
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / math.sqrt(na * nb)
    }
    // witness: any real vector one probed bit-flip away from u's bucket
    // (probeBits = nBits probes every single-bit flip) whose own bucket
    // stays under the cap, best cos first
    val cap = 100 // hot bucket = 300 mega + u + u's real bucket-mates > cap
    val bucketSize = byId.groupBy(_._3).map { case (b, xs) => b -> xs.length }
    val candidates = byId.filter { case (_, _, b0) =>
      java.lang.Integer.bitCount(b0 ^ ub) == 1 && bucketSize(b0) <= cap }
      .map { case (id, v, b0) => (id, b0, cos(u, v)) }
      .sortBy(-_._3)
    assert(candidates.nonEmpty, "no vector in any healthy Hamming-1 bucket of u — corpus degenerate?")
    val (wId, wB0, wCos) = candidates.head
    val threshold = wCos - 1e-4
    // Run the contract with the mega-cluster ids BELOW and ABOVE every
    // real id. The below case always worked; the above case is the one a
    // naive a<b orientation filter silently breaks (the hot vector can
    // only appear as 'a' via probing, and as 'b' it was semi-joined
    // away), fixed by least/greatest canonicalization in cosinePairs.
    for ((megaIds, tag) <- Seq(((-300L until 0L), "below"),
                               ((900000L until 900300L), "above"))) {
      val mega = megaIds.map(i => (i, u.toSeq)).toDF("vec_id", "embedding")
      val all = emb.unionByName(mega)
      val isMega = (x: Long) => megaIds.contains(x)
      def run(mb: Int) = Ann.cosinePairs(all, "vec_id", "embedding",
          threshold = threshold, nBits = nBits, probeBits = nBits, maxBucket = mb)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val capped = run(cap)
      val uncapped = run(0)
      assert(capped.subsetOf(uncapped), s"[$tag] capped ⊆ uncapped")
      assert(!capped.exists { case (a, b) => isMega(a) && isMega(b) },
        s"[$tag] intra-mega-bucket pairs must be dropped by the cap")
      assert(uncapped.exists { case (a, b) => isMega(a) && isMega(b) },
        s"[$tag] uncapped run must show the quadratic mega-cluster the cap prevents")
      // the heart of the contract: every capped (mega, witness) cross
      // pair survives regardless of id order, because the mega vector
      // probes from the (uncapped) l side into w's healthy base bucket
      // and the output canonicalizes with least/greatest
      megaIds.foreach { m =>
        assert(capped.contains((math.min(m, wId), math.max(m, wId))),
          s"[$tag] capped vector $m must still reach witness $wId via probing (cos=$wCos)")
      }
    }
  }

  test("certified LSH queries run with the bucket cap active (window guard in plan)") {
    for (q <- Seq("dd_minhash", "dd_simhash", "dd_embedding", "dd_fuzzy",
                  "dd_minhash_incremental", "ann_incremental",
                  "dd_ngram_jaccard", "dd_jaccard_verify")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.toString
      // the guard is a window count over the bucket keys (its exchange is
      // reused by the self-join) filtered on _bsz, plus the observe node
      // that reports dropped rows/buckets
      assert(plan.contains("_bsz"),
        s"$q must carry the maxBucket window guard; plan:\n${plan.take(2000)}")
      assert(plan.contains("CollectMetrics") && plan.contains(".cap."),
        s"$q must carry the cap observe metrics; plan:\n${plan.take(2000)}")
    }
  }

  test("cross-corpus minhash finds a planted near-dup, sides stay disjoint") {
    import spark.implicits._
    val corpusRows = (0L until 200L).map(i =>
      (i, s"corpus document number $i with words alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
    // batch doc 1000 is a near-copy of corpus doc 7 (one word changed);
    // batch doc 1001 shares no tokens with anything
    val batchRows = Seq(
      (1000L, corpusRows(7)._2.replace("delta7", "CHANGED")),
      (1001L, "utterly unrelated content qqq www eee rrr ttt yyy uuu iii"))
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")
    val hits = Dedup.crossMinhashPairs(batch, corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.contains((1000L, 7L)), s"planted near-dup must surface; got ${hits.toSeq}")
    assert(hits.forall { case (b, c) => b >= 1000L && c < 1000L },
      "batch ids on the left, corpus ids on the right")
    assert(!hits.exists(_._1 == 1001L), "unrelated batch doc must not pair")
  }

  test("LSH→verify→resolve pipeline: clusters collapse to canonicals, others pass") {
    import spark.implicits._
    val normal = (0L until 100L).map(i =>
      (i, s"standalone document $i about alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
    // a near-dup CHAIN (500-501-502, each one word off its neighbor) and
    // an exact-duplicate pair (600, 601)
    val base = "shared content words one two three four five six seven eight nine ten"
    val chain = Seq(
      (500L, base),
      (501L, base.replace("three", "THREE")),
      (502L, base.replace("three", "THREE").replace("seven", "SEVEN")))
    val dupPair = Seq((600L, "identical doc body"), (601L, "identical doc body"))
    val docs = (normal ++ chain ++ dupPair).toDF("doc_id", "text")
    val cand = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5, maxBucket = 1000).select("a", "b")
    val verified = Dedup.verifyJaccard(cand, docs, "doc_id", "text")
      .where(col("jaccard") >= 0.5).select("a", "b")
    val kept = Dedup.resolve(docs, verified, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(500L) && !kept.contains(501L) && !kept.contains(502L),
      s"near-dup chain must collapse to its min id; kept ${kept.filter(_ >= 500)}")
    assert(kept.contains(600L) && !kept.contains(601L),
      "exact-dup pair must collapse to its min id")
    assert((0L until 100L).forall(kept.contains),
      "standalone docs must pass through untouched")
  }

  test("embedding resolve pipeline: planted vector dup cluster collapses, rest pass") {
    import spark.implicits._
    val emb = Graft.embeddings(spark, sf).select("vec_id", "embedding")
    val v = emb.where(col("vec_id") === 3).select("embedding").head().getSeq[Float](0).toArray
    // three exact copies of vector 3 planted at high ids — same SRP
    // bucket, cosine 1.0 → one cluster {3, 910000, 910001, 910002}
    val planted = Seq(910000L, 910001L, 910002L).map(i => (i, v.toSeq)).toDF("vec_id", "embedding")
    val all = emb.unionByName(planted)
    val verified = Ann.cosinePairs(all, "vec_id", "embedding",
        threshold = 0.999999, nBits = 6, probeBits = 3, maxBucket = 1000)
      .select("a", "b")
    val kept = Dedup.resolve(all.select("vec_id"), verified, "vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(3L), "cluster canonical (min id) must survive")
    assert(Seq(910000L, 910001L, 910002L).forall(!kept.contains(_)),
      s"planted copies must be dropped; kept ${kept.filter(_ >= 910000L)}")
    // every original vector other than exact-dup losers survives
    val originals = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val dropped = originals -- kept
    // originals may only drop if they are exact/near dups of a smaller id
    // at cos ≥ threshold; with threshold this tight that means true dups
    dropped.foreach { d =>
      assert(d != 3L, "vector 3 is its cluster's min id and must not drop")
    }
  }

  test("cross-corpus cap: corpus mega-cluster bounded, batch near-dup still found") {
    import spark.implicits._
    val corpusRows = (0L until 200L).map(i =>
      (i, s"corpus document number $i with words alpha$i beta$i gamma$i delta$i epsilon$i zeta$i")) ++
      // a 300-copy mega-cluster in the standing corpus: identical text →
      // identical signature → every band bucket holds 300 corpus rows
      (1000L until 1300L).map(i => (i, "boilerplate page exactly repeated verbatim"))
    val batchRows = Seq(
      // near-copy of corpus doc 7 (one word changed) — must survive the cap
      (5000L, corpusRows(7)._2.replace("delta7", "CHANGED")),
      // a batch copy of the boilerplate: its only matches live in capped
      // buckets, so the cap drops them (exact dedup's job upstream)
      (5001L, "boilerplate page exactly repeated verbatim"))
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")
    val capped = Dedup.crossMinhashPairs(batch, corpus, "doc_id", "text",
        threshold = 0.5, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.crossMinhashPairs(batch, corpus, "doc_id", "text",
        threshold = 0.5, maxBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped))
    assert(capped.contains((5000L, 7L)),
      s"planted near-dup in a healthy bucket must survive the cap; got $capped")
    assert(!capped.exists(_._2 >= 1000L),
      "matches into the capped mega-cluster must be dropped")
    assert(uncapped.count { case (b, c) => b == 5001L && c >= 1000L } === 300,
      "uncapped run pays the full mega-cluster fan-out the cap prevents")
  }

  test("group-aware split keeps every near-dup cluster in one split") {
    import spark.implicits._
    val docs = (0L until 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters: {1,2,3} (chain), {10,11}; rest untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.groupAwareSplit(docs, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size === 60)
    assert(Set(out(1L), out(2L), out(3L)).size === 1, "chained cluster must not straddle splits")
    assert(Set(out(10L), out(11L)).size === 1)
    // cluster members take the canonical (min-id) member's assignment...
    assert(out(1L) === out(2L))
    // ...and untouched docs keep plain splitAssign — spot-check one
    val plain = docs.where(col("doc_id") === 42L)
      .select(graft.functions.TextFunctions.splitAssign(col("doc_id"))).head().getString(0)
    assert(out(42L) === plain)
  }

  test("brute-force ANN is exact top-k (agrees with itself on re-run, k bound)") {
    val emb = Graft.embeddings(spark, sf)
    val out = Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 3), "vec_id", "embedding", k = 7)
    val rows = out.collect()
    assert(rows.length === 3 * 7)
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sims = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y }, "ranks ordered by cosine")
    }
  }

  test("ann_quantized: top-k through the int8 store keeps >=90% recall vs raw brute force") {
    // per-vector dequant fidelity is ~0.99995 cosine (mm_quantize's
    // certified bound); this asserts the codec's effect on the actual
    // SEARCH answer — near-identical neighbor sets
    val truth = graft.queries.PipelineQueries.all("ann_brute")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = graft.queries.PipelineQueries.all("ann_quantized")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = (truth & quant).size.toDouble / truth.size
    assert(recall >= 0.9, f"quantized-store recall $recall%.3f < 0.9")
  }
}
