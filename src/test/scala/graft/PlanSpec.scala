package graft

import graft.operators.Joins
import org.apache.spark.sql.functions._

/** Plan-shape assertions — the scale contract, enforced: dimension joins
  * broadcast, scans push filters, aggregations combine map-side, LSH
  * operators never degenerate into cartesian products. These are the
  * properties that decide whether a query survives a 100x scale-up, so
  * they are tested like behavior, not eyeballed.
  */
class PlanSpec extends GraftTest {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("l_shipdate"), "shipdate filter must reach the scan")
    assert(p.contains("partial_sum"), "aggregation must combine map-side")
  }

  test("stream-table join broadcasts the dimension side") {
    val p = plan("j4_st_inner")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("scan column pruning: wordcount reads only the text column") {
    val p = plan("a1_wordcount")
    assert(p.contains("ReadSchema: struct<text:string>"),
      "scan must prune to the single projected column:\n" + p.take(2000))
  }

  test("latest-per-key: one hash exchange, max_by partials, no window, no global sort") {
    val p = plan("s2_table_source")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected exactly 1 shuffle, plan:\n${p.take(3000)}")
    assert(p.contains("partial_max_by") || p.contains("max_by"), p.take(2000))
    assert(!p.contains("Window"), "no window-function fallback for table views")
    // max_by's struct buffer falls back to SortAggregate — per-partition
    // sorts are expected and fine; a GLOBAL sort (range partitioning)
    // would not be
    assert(!p.contains("Exchange rangepartitioning"),
      "latest-per-key must never range-partition (global sort):\n" + p.take(3000))
  }

  test("LSH dedup and blocking joins never cartesian-product") {
    Seq("dd_minhash", "dd_simhash", "dd_jaccard_verify", "ann_lsh", "j1_ss_inner").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plan contains CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plan contains BroadcastNestedLoopJoin")
    }
  }

  test("range join plans an equi-join on the cell id, not a nested loop") {
    val p = plan("j_range")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"j_range fell back to a nested loop:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("sk_cms builds the sketch distributed and estimates executor-side") {
    val p = plan("sk_cms")
    assert(p.contains("partial_count_min_sketch"),
      "sketch must build with map-side partials:\n" + p.take(2000))
    assert(p.contains("BroadcastExchange"),
      "the one-row sketch must broadcast to the estimate side (never a driver collect):\n" + p.take(2000))
  }

  test("outer windowed join derives padding from bounded semi probes, not a cached inner") {
    val p = plan("j3_ss_outer")
    // the old shape persisted the full inner output (quadratic in
    // per-(key,bucket) density) to feed the padding arms; the scale-safe
    // shape probes matched ids with semi joins (linear output) and
    // anti-joins the originals
    assert(p.contains("LeftSemi"),
      "matched ids must come from semi probes:\n" + p.take(3000))
    assert(p.contains("LeftAnti"),
      "padding arms must anti-join the matched ids:\n" + p.take(3000))
    assert(!p.contains("InMemoryTableScan"),
      "the quadratic inner output must NOT be persisted:\n" + p.take(3000))
  }

  test("q_topn ranks in two phases (local per input partition, then tiny final)") {
    val p = plan("q_topn")
    assert("row_number".r.findAllIn(p).size >= 2,
      "expected a local rank and a final rank:\n" + p.take(3000))
    assert(p.contains("_part"),
      "local phase must partition by (group, input partition):\n" + p.take(3000))
  }

  test("decontamination semi-joins the broadcast eval grams (corpus side never shuffles)") {
    val p = plan("pp_decontam")
    assert(p.contains("LeftSemi"), "must be a semi-join:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "eval grams must broadcast:\n" + p.take(2000))
  }

  test("tfidf/unigram vocab joins are size-gated: AQE broadcasts small, no forced hint") {
    // Raw-token vocabulary grows with the corpus (Heaps' law), so a
    // FORCED broadcast of the idf/unigram table is a driver-OOM at
    // web-corpus scale. The gate: no hint — AQE broadcasts at runtime
    // while the measured build side is small. Pin both directions:
    for (q <- Seq("txt_tfidf", "txt_unigram_lp")) {
      // (a) default conf: the test-scale vocab is tiny → the FINAL
      //     adaptive plan must still take the broadcast fast path
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: AQE must broadcast the small vocab at test scale:\n" + p.take(3000))
      assert(!p.contains("SortMergeJoin"),
        s"$q: no sort-merge at test scale:\n" + p.take(3000))
      // (b) broadcasts disabled (stand-in for an over-threshold vocab):
      //     the vocab join must fall back to a shuffle join — a forced
      //     hint would broadcast regardless and fail this direction
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val df2 = SparkEntry.queries(q)(spark, sf)
        df2.collect()
        val p2 = df2.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
        assert(!p2.contains("BroadcastHashJoin"),
          s"$q: vocab join must NOT broadcast past the threshold (forced hint?):\n" + p2.take(3000))
      }
    }
  }

  test("brute-force ANN is the one sanctioned nested-loop (broadcast small queries)") {
    val p = plan("ann_brute")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "query side must broadcast; corpus side must stream:\n" + p.take(2000))
  }

  test("balanced mix broadcasts the stratum counts onto the corpus") {
    val p = plan("pp_mix")
    assert(p.contains("BroadcastHashJoin"),
      "stratum-count join must broadcast (corpus filtered in place):\n" + p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle for the mix decision:\n" + p.take(3000))
  }

  test("temperature mix broadcasts the stratum counts onto the corpus") {
    val p = plan("pp_temperature")
    assert(p.contains("BroadcastHashJoin"),
      "stratum-count join must broadcast (corpus filtered in place):\n" + p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle for the mix decision:\n" + p.take(3000))
  }

  test("deterministic shuffle partitions by shard — no single-reducer global sort") {
    val p = plan("pp_shuffle")
    assert(!p.contains("Exchange SinglePartition"),
      "per-shard windows must hash-partition, not funnel into one task:\n" + p.take(3000))
    assert(p.contains("Exchange hashpartitioning"),
      "expected a hash exchange on the shard key:\n" + p.take(3000))
  }

  test("repetition signals: native kernel runs shuffle-free") {
    val p = plan("txt_repetition")
    assert(p.contains("repetition_stats"), "native kernel expected in the plan:\n" + p.take(3000))
    assert(!p.contains("Exchange"),
      "single-pass kernel needs no shuffle at all:\n" + p.take(3000))
  }

  test("windowed stream-stream join shuffles on (key, bucket), not key alone") {
    val p = plan("j1_ss_inner")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      "bucketed equi-join expected:\n" + p.take(2000))
    assert(p.contains("bucket"), "time bucket must be part of the join key")
  }

  test("salted join spreads a hot key and agrees with the plain join") {
    import spark.implicits._
    val hot = (1 to 1000).map(i => (if (i % 10 == 0) "cold" + i else "HOT", i.toLong))
      .toDF("k", "id")
    val dim = Seq(("HOT", "a"), ("cold20", "b")).toDF("k", "v")
    val plainCount = hot.join(dim.withColumnRenamed("k", "k2"), col("k") === col("k2")).count()
    val salted = Joins.saltedJoin(hot, dim, "k", "id", salts = 8)
    assert(salted.count() === plainCount)
    // the join key must include the salt so the hot key spans reducers
    assert(salted.queryExecution.executedPlan.toString.contains("_salt"))
  }

  test("new pipeline ops prune their scans to the referenced columns") {
    Seq(
      "pp_weights" -> "ReadSchema: struct<doc_id:bigint,text:string>",
      "dd_url" -> "ReadSchema: struct<doc_id:bigint>",
      "txt_diversity" -> "ReadSchema: struct<doc_id:bigint,text:string>").foreach {
      case (q, want) =>
        val p = plan(q)
        assert(p.contains(want), s"$q scan must prune to $want:\n" + p.take(2000))
    }
  }

  test("global top-N plans per-partition heaps, not a full sort") {
    val p = plan("pp_topquality")
    assert(p.contains("TakeOrderedAndProject"),
      "orderBy+limit must plan TakeOrderedAndProject:\n" + p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      "a global range sort would not survive a large corpus:\n" + p.take(2000))
  }

  test("partitioned layout prunes non-matching directories at the scan") {
    import spark.implicits._
    val path = ProbeUtil.scratchDir("prune")
    graft.sources.Sources.writePartitioned(
      (0 until 300).map(i => (i.toLong, Seq("en", "de", "fr")(i % 3))).toDF("id", "lang"),
      path, "lang")
    val q = spark.read.parquet(path).where(col("lang") === "en")
    val p = q.queryExecution.executedPlan.toString
    // the lang predicate must appear as a PARTITION filter (directory
    // pruning), not a data filter evaluated per row group
    assert(p.contains("PartitionFilters") && p.contains("lang"), p.take(2000))
    assert(!p.contains("PushedFilters: [IsNotNull(lang"),
      "lang must prune directories, not filter rows:\n" + p.take(2000))
    assert(q.count() === 100)
  }

  test("bucketed tables join with no Exchange and no Sort before the join") {
    import spark.implicits._
    val dir = ProbeUtil.scratchDir("bucketed")
    graft.sources.Sources.writeBucketed(
      (0L until 1000L).map(i => (i % 100, s"l$i")).toDF("k", "lv"),
      "bt_left", s"$dir/bt_left", "k", nBuckets = 8)
    graft.sources.Sources.writeBucketed(
      (0L until 500L).map(i => (i % 100, s"r$i")).toDF("k", "rv"),
      "bt_right", s"$dir/bt_right", "k", nBuckets = 8)
    // forbid broadcast so the planner must pick the co-located SMJ path
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("bt_left").join(spark.table("bt_right"), "k")
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        "bucketed equi-join must not shuffle:\n" + p.take(3000))
      assert(j.count() === 1000L * 5L)
      // the write sorts each (single-file) bucket, but Spark trusts that
      // order only behind the legacy flag (multi-file buckets made it
      // unsafe by default) — with it on, the join is Sort-free too
      withConf("spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
        val p2 = spark.table("bt_left").join(spark.table("bt_right"), "k")
          .queryExecution.executedPlan.toString
        assert(!p2.contains("Exchange") && !p2.contains("Sort "),
          "sorted bucket scan must plan a shuffle-free, sort-free join:\n" + p2.take(3000))
      }
    }
  }

  test("verifyJaccard shingles the corpus once — second join side reuses the exchange") {
    import spark.implicits._
    // pairs from literals so every documents scan in the plan belongs to
    // the shingle-sets subtree; forbid broadcast so both sides must read
    // the hash(vid) exchange — reuse means ONE materialization (and one
    // corpus scan) feeds both joins, the property that halves the
    // dominant cost at corpus scale
    val docs = Graft.documents(spark, sf)
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val v = graft.dedup.Dedup.verifyJaccard(pairs, docs, "doc_id", "text")
      v.collect() // finalize the adaptive plan
      // the adaptive plan string appends an "== Initial Plan ==" section;
      // assert on the final section only
      val p = v.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
        "both join sides must share one sets exchange:\n" + p.take(3000))
      val scans = "FileScan".r.findAllIn(p).size
      assert(scans === 1,
        s"expected a single documents scan in the final plan, saw $scans:\n" + p.take(3000))
    }
  }

  test("blockedPairs: the cap rides the self-join's own exchange (one shuffle, reused)") {
    // capBuckets' window partitions by the block keys — exactly the
    // distribution the self-join needs — and both join sides alias the
    // same capped plan, so the physical plan has ONE hashpartitioning
    // exchange on the keys plus a reuse, never a second corpus pass
    val docs = Graft.documents(spark, sf)
    val df = graft.dedup.Dedup.blockedPairs(docs, "doc_id",
      Seq("lang" -> col("lang"), "blk" -> (col("n_chars") / lit(32)).cast("int")),
      maxBucket = 1000)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      // a ReusedExchange line repeats the reused exchange's description,
      // so count only lines whose NODE is the exchange itself
      val nExchanges = p.linesIterator
        .count(l => l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
      assert(nExchanges == 1, s"expected exactly one shuffle, got $nExchanges:\n${p.take(3000)}")
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
        "both self-join sides must share the cap's exchange:\n" + p.take(3000))
      val scans = "FileScan".r.findAllIn(p).size
      assert(scans === 1,
        s"expected a single documents scan in the final plan, saw $scans:\n${p.take(3000)}")
    }
  }

  test("unigram LM: ONE tokenize scan; ppl buckets stay within the intrinsic consumers") {
    // r11: the inert id/term isnotnull filters keep every tf consumer
    // filter-symmetric, so ReuseExchange deduplicates the tokenize scan
    // (previously the term join's inferred isnotnull specialized one
    // subtree apart — the dsirWeights/dd_span breaker class)
    // pp_pack_bpe: the BPE count expression must evaluate below the ONE
    // _blk exchange both packBins consumers reuse (offsets aggregate
    // from the shared window frame) — a single tokenize/count scan
    for ((q, maxScans) <- Seq("txt_unigram_lp" -> 1, "txt_ppl_buckets" -> 4,
        "pp_pack_bpe" -> 1, "pp_pack" -> 1)) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans <= maxScans,
        s"$q: expected ≤$maxScans documents scans, saw $scans:\n${p.take(3000)}")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("sk_bloom_prune builds and probes the bloom entirely in-plan") {
    // r11: BloomFilterAggregate as a scalar subquery + codegen'd
    // might_contain — ONE job; the retired stat.bloomFilter form ran a
    // separate driver-side build action and probed through a boxed UDF
    val p = plan("sk_bloom_prune")
    assert(p.contains("bloom_filter_agg") || p.contains("BloomFilterAggregate"),
      "bloom must build as an in-plan aggregate:\n" + p.take(3000))
    assert(p.contains("might_contain"),
      "probe must be the native might_contain predicate:\n" + p.take(3000))
    assert(!p.contains("UDF("),
      "no wrapper UDF on the probe path:\n" + p.take(3000))
  }

  test("ANN quantizer hot loops run as native kernels — no Scala UDF in the plans") {
    // the r11 port: IVF assignment, PQ/IVFADC encode, LUT build and ADC
    // scoring are codegen'd Expressions (graft.functions.AnnKernels);
    // a ScalaUDF reappearing on these scans would reintroduce the boxed
    // Seq[Double] conversion on the corpus-dominant path
    for ((q, kernels) <- Seq(
      "ann_ivf" -> Seq("ivf_nearest_lists"),
      "ann_pq" -> Seq("pq_encode", "pq_lut", "pq_adc"),
      "ann_ivfpq" -> Seq("ivfpq_encode", "ivfpq_probes", "ivfpq_lut", "ivfpq_adc"),
      "dd_semantic" -> Seq("ivf_assign"))) {
      val p = plan(q)
      kernels.foreach(kn => assert(p.contains(kn),
        s"$q plan must carry native kernel $kn:\n${p.take(3000)}"))
      assert(!p.contains("UDF("),
        s"$q plan must not fall back to a Scala UDF:\n${p.take(3000)}")
    }
  }

  test("semanticDedup: both pair-join sides reuse one cluster exchange, single scan") {
    // the assignment scan (with its per-row centroid UDF) must run ONCE:
    // l and the capped r keep identical column sets so pruning cannot
    // specialize them apart, and the explicit cluster repartition is the
    // one exchange the cap's window and the pair join both ride
    val emb = Graft.embeddings(spark, sf)
    val model = graft.ann.Ann.trainIvf(emb, "vec_id", "embedding", nLists = 4)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = graft.ann.Ann.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.35, model)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
        "pair-join sides must share the assignment exchange:\n" + p.take(3000))
      val scans = "FileScan".r.findAllIn(p).size
      assert(scans === 1,
        s"expected a single embeddings scan in the final plan, saw $scans:\n${p.take(3000)}")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("heavy hitters: sketch aggregate evaluated once — two scans, the minimum") {
    // certification needs both the sketch and the exact truth (2 scans);
    // the summary must have ONE consumer (the broadcast row, estimates
    // looked up by array filter) — routing n_total/n_shards through the
    // sketch frame re-evaluated the sketch aggregate (3 scans)
    val docs = Graft.documents(spark, sf)
    for (df <- Seq(
      graft.functions.Sketches.heavyHitters(
        docs.select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok")),
        col("tok")),
      graft.functions.Sketches.heavyHittersMerge(
        docs.select(col("lang"), col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok")),
        "lang", col("source"), col("tok")))) {
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val scans = "FileScan".r.findAllIn(p).size
      assert(scans === 2, s"expected 2 scans (sketch + exact), got $scans:\n${p.take(2000)}")
    }
  }

  test("JPEG decode is an exchange-free partition-local scan") {
    // fixture generation + full decode (entropy -> dequant -> IDCT) are
    // both per-row work inside the scan partition: the 100 TB shape is
    // one pass over the asset table, parallelism = input splits
    val p = plan("mm_decode_jpeg")
    assert(!p.contains("Exchange"), "JPEG decode must not shuffle:\n" + p.take(2000))
    assert("FileScan".r.findAllIn(p).size === 1, "one corpus scan:\n" + p.take(2000))
    val pc = plan("mm_jpeg_coefs")
    assert(!pc.contains("Exchange"), "coef decode must not shuffle:\n" + pc.take(2000))
  }

  test("BPE apply is an exchange-free scan (training cost lives outside the plan)") {
    // the frozen merges are plan literals; counting subwords must stay
    // a pure per-row projection over one corpus scan — no shuffle, no
    // per-row model lookup
    val docs = Graft.documents(spark, sf)
    val model = graft.functions.Bpe.train(docs, "text", nMerges = 16)
    val df = docs.select(col("doc_id"),
      graft.functions.Bpe.subwordCountBpe(col("text"), model).as("n_subwords"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "BPE apply must not shuffle:\n" + p.take(2000))
    assert("FileScan".r.findAllIn(p).size === 1)
  }

  test("dsirWeights: raw corpus is tokenized once — model consumers reuse the exchange") {
    // the raw gram scan (tokenize + bigram explode + hash) is the
    // dominant cost; the per-doc score and the bucket-count model both
    // consume the same (doc, bucket) exchange. The operator carries
    // explicit isnotnull(doc)/isnotnull(bkt) filters matching the ones
    // the downstream joins infer — without them the subtrees differ and
    // the corpus is tokenized twice (how this pin was earned)
    val docs = Graft.documents(spark, sf)
    val df = graft.functions.TextFunctions.dsirWeights(
      docs, docs.where(col("lang") === "en"), "doc_id", "text")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val gramScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("text") && !l.contains("lang"))
    assert(gramScans === 1,
      s"raw corpus must be tokenized once, saw $gramScans gram scans:\n${p.take(3000)}")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"))
  }

  test("spanStats: gram frequency is a window count on one shingle scan, no self-join") {
    // the corpus frequency of each gram rides the exploded rows' one hash
    // exchange on the gram (capBuckets' device) — an aggregate-and-join-
    // back would shingle the corpus twice (column pruning specializes the
    // two subtrees out of ReuseExchange eligibility, measured). The only
    // other corpus read is the id-only left-join side.
    val docs = Graft.documents(spark, sf)
    val df = graft.dedup.Dedup.spanStats(docs, "doc_id", "text")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val textScans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("text"))
      assert(textScans === 1,
        s"the text column must be scanned (and shingled) exactly once, saw $textScans:\n${p.take(3000)}")
      val gramExchanges = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(gram"))
      assert(gramExchanges === 1,
        s"the window count must ride ONE gram exchange, saw $gramExchanges:\n${p.take(3000)}")
      assert(!p.contains("CartesianProduct"), "no all-pairs anywhere:\n" + p.take(3000))
    }
  }

  test("spanRemove: one gram exchange, one shared doc exchange, single text scan") {
    // the cross-doc/canonical window shuffles once on the gram key; the
    // coverage window and the rebuild groupBy share hash(_sr_id)
    // (ClusteredDistribution reuse); the only other corpus read is the
    // id-only left-join side
    val docs = Graft.documents(spark, sf)
    val df = graft.dedup.Dedup.spanRemove(docs, "doc_id", "text")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val textScans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("text"))
      assert(textScans === 1,
        s"the text column must be scanned exactly once, saw $textScans:\n${p.take(3000)}")
      val gramExchanges = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(gram"))
      assert(gramExchanges === 1,
        s"the gram window must ride ONE exchange, saw $gramExchanges:\n${p.take(3000)}")
      val docExchanges = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(_sr_id"))
      assert(docExchanges === 1,
        s"cover window and rebuild groupBy must share ONE doc exchange, saw $docExchanges:\n${p.take(3000)}")
      assert(!p.contains("CartesianProduct"), "no all-pairs anywhere:\n" + p.take(3000))
      // the O(n·k) gram scan must be evaluated ONCE: a plain posexplode
      // lets InferFiltersFromGenerate clone tokenize+gram_hashes into a
      // non-codegen Filter below the Generate (~3 evaluations per doc);
      // the outer-generate form keeps exactly one occurrence in the plan
      val gramEvals = "gram_hashes".r.findAllIn(p).size
      assert(gramEvals === 1,
        s"gram_hashes must appear exactly once in the final plan, saw $gramEvals:\n${p.take(4000)}")
    }
  }

  test("sessionCountGaps: one exchange serves both window passes and the groupBy") {
    // the two window functions share hash(user_id); the (user_id, _sid)
    // aggregation's ClusteredDistribution is satisfied by that same
    // partitioning (subset key), so the whole operator is ONE shuffle
    val df = graft.operators.Windows.sessionCountGaps(
      Graft.events(spark, sf), "ts_us", 3600000000L, col("user_id"))
    val p = df.queryExecution.executedPlan.toString
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(nExchanges == 1, s"expected exactly one shuffle, got $nExchanges:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"no global sort expected:\n$p")
  }

  test("dd_image_phash: ONE parquet scan, ONE exchange — decode runs once") {
    // the groupBy + self-join form built each join side from its own
    // scan, running the PNG decode twice; the window form must keep a
    // single scan feeding a single hash exchange (review r12)
    val p = plan("dd_image_phash")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected exactly one corpus scan, got $scans:\n${p.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected exactly one shuffle, got $exchanges:\n${p.take(3000)}")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "no join expected in the window form")
  }

  test("dd_image_phash_dct: decode + fixed-point DCT run inside the scan, zero exchanges") {
    val p = plan("dd_image_phash_dct")
    assert(!p.contains("Exchange"), "pHash must be shuffle-free:\n" + p.take(2000))
    assert("Scan parquet".r.findAllIn(p).size === 1, "one corpus scan:\n" + p.take(2000))
  }

  test("scan-local multimodal decodes carry ZERO exchanges") {
    // PNG decode, FFT features, video sampling, box resize: per-asset
    // partition-local work — any Exchange would mean the codec path
    // stopped riding executor count at 100 TB
    for (name <- Seq("mm_decode_png", "mm_audio_fft", "mm_audio_mel", "mm_audio_decimate", "mm_audio_fingerprint",
        "mm_video_mjpeg", "mm_resize_box")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name must be shuffle-free:\n${p.take(2000)}")
      assert("Scan parquet".r.findAllIn(p).size === 1, s"$name: one corpus scan")
    }
  }

  test("pp_length_buckets: ONE corpus scan — offsets branch reuses the window exchange") {
    // the composite-(bucket, block) prefix device must keep the packBins
    // single-scan property: the offsets aggregation hangs off the SAME
    // window exchange as the final join's left side (ReuseExchange). A
    // passthrough column in the bucketBatches input forks the pruning
    // and doubles the corpus scan + tokenize (the r16 plan-audit find —
    // bucketBatches' (id, bucket)-only contract exists for this).
    val df = SparkEntry.queries("pp_length_buckets")(spark, sf)
    df.collect() // reuse materializes as AQE stage sharing — inspect the FINAL plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected exactly one corpus scan, got $scans:\n${p.take(3000)}")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"offsets branch must reuse the window exchange:\n${p.take(3000)}")
    assert(!p.contains("Exchange rangepartitioning"), "no global sort expected")
  }

  test("r16 single-scan pins: anchor aggregation, robots verdicts, retention, multiturn SFT") {
    // each of these shipped with a two-consumer fork that scanned (and
    // re-ran the expensive extraction on) the corpus twice; the fixes —
    // a shared cell exchange, a single left join with an all-null loser
    // struct, a per-user window over the deduped frame — must hold
    for ((q, maxScans) <- Seq("pp_anchor_text" -> 1, "pp_robots" -> 1,
        "q_retention" -> 1, "pp_sft_multiturn" -> 1)) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans <= maxScans, s"$q: expected ≤$maxScans scans, saw $scans:\n${p.take(3000)}")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian product")
    }
    // the multiturn assembly is pure per-row arithmetic: zero exchanges
    val mt = SparkEntry.queries("pp_sft_multiturn")(spark, sf)
    assert(!mt.queryExecution.executedPlan.toString.contains("Exchange"),
      "pp_sft_multiturn must be shuffle-free")
  }

  test("r17 pins: anchor regex zipped below the Generate; MLM mask hashed once") {
    // VERDICT r16 #1: the post-explode element_at(regexp_extract_all(..))
    // re-ran the full-document regex once per anchor row — O(anchors ×
    // doc_len). Both capture groups must extract inside the Generate's
    // child (arrays_zip): no RegExpExtractAll may appear ABOVE the
    // Generate in the optimized plan (plans print top-down, parents
    // before children, and the generator expression prints ON the
    // Generate line itself).
    for (q <- Seq("pp_anchor_text", "txt_html_links")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.toString
      val gen = p.indexOf("Generate")
      assert(gen >= 0, s"$q: expected a Generate in the plan:\n${p.take(2000)}")
      assert(!p.substring(0, gen).contains("regexp_extract_all"),
        s"$q: a regex extraction sits above the Generate (per-anchor re-extraction):\n${p.take(3000)}")
    }
    // VERDICT r16 #2: ONE md5 per token — the boolean mask array is
    // computed once (its Project survives CollapseProject because the
    // alias is non-cheap and referenced twice) and both masked_text and
    // n_masked derive from it
    val m = SparkEntry.queries("pp_mlm_mask")(spark, sf).queryExecution.optimizedPlan.toString
    val md5s = "md5\\(".r.findAllIn(m).size
    assert(md5s === 1,
      s"pp_mlm_mask: expected exactly one md5 evaluation in-plan, got $md5s:\n${m.take(3000)}")
  }

  test("r18 pin: dd_lsh_resolve persists signatures ONCE; pair plan reads the store") {
    // VERDICT r17 #6: the pair plan consumes the MinHash signature frame
    // three times (banding + both estimate-join sides); the query now
    // persists it once per build and every consumer reads the store
    // back. The query's RETURNED plan is the post-checkpoint component
    // anti-join (components materialize at build), so the pin checks
    // (a) exactly one signature store is written per build, and (b) the
    // pair plan over the persisted store carries NO shingle+minhash
    // aggregation — only columnar store reads + the banded join.
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def sigDirs: Set[String] = {
      val l = java.nio.file.Files.list(tmpRoot)
      try {
        val b = scala.collection.mutable.Set.empty[String]
        l.forEach(p =>
          if (p.getFileName.toString.startsWith("graft-lshsigs")) b += p.toString)
        b.toSet
      } finally l.close()
    }
    val before = sigDirs
    SparkEntry.queries("dd_lsh_resolve")(spark, sf).collect()
    val created = sigDirs -- before
    assert(created.size === 1,
      s"expected exactly ONE persisted signature store per build, got ${created.size}")
    val pairs = graft.dedup.Dedup.minhashPairsFromSigs(
      spark.read.parquet(created.head), threshold = 0.5)
    val pe = pairs.queryExecution.executedPlan.toString
    assert(pe.contains("graft-lshsigs"),
      s"pair plan must read the persisted signature store:\n${pe.take(3000)}")
    assert(!pe.contains("minhash_sig") && !pe.contains("shingle_hashes"),
      s"pair plan must not re-aggregate signatures or re-tokenize:\n${pe.take(3000)}")
  }

  test("dd_containment_sketch: capBuckets guard in-plan, no cartesian product") {
    // the containment-MinHash production arm must keep the same
    // discipline as minhashPairs: banded bucket join behind the cap
    // (observable `_bsz` window column), never an all-pairs product
    val a = SparkEntry.queries("dd_containment_sketch")(spark, sf)
      .queryExecution.analyzed.toString
    assert(a.contains("_bsz"),
      s"containment sketch lost the capBuckets guard:\n${a.take(2000)}")
    val df = SparkEntry.queries("dd_containment_sketch")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), "no cartesian product")
  }

  test("dd_exact_nfkc: normalization rides the scan, ONE digest exchange") {
    // the kernel must stay a scan-local projection feeding the
    // canonical 16-byte-digest hash groupBy — a second exchange (or a
    // pre-normalization shuffle of raw text) would ship full documents
    // instead of digests at 100 TB
    val p = plan("dd_exact_nfkc")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected exactly one shuffle, got $exchanges:\n${p.take(2000)}")
    assert("Scan parquet".r.findAllIn(p).size === 1, "one corpus scan")
    assert(p.contains("nfkc_casefold"), "normalization kernel must appear in-plan")
    assert(p.contains("partial_min") || p.contains("partial_count") ||
      p.contains("HashAggregate"), "map-side partial aggregation expected")
  }

  test("mm_text_image_score: ONE corpus scan, zero exchanges, no UDF towers") {
    // the cross-modal pair is built from the SAME documents row (image
    // generated + decoded inline in one mapPartitions), so the whole
    // score must be a single-scan, shuffle-free projection — a join
    // between separate text and image scans would read the corpus twice
    // and shuffle it once, for nothing, at 100 TB
    val p = plan("mm_text_image_score")
    assert(!p.contains("Exchange"), s"cross-modal score must be shuffle-free:\n${p.take(2000)}")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"one corpus scan expected:\n${p.take(2000)}")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "no join expected in the single-scan form")
    // towers are Column arithmetic over the native token_hashes kernel,
    // never a Scala UDF
    assert(!p.toLowerCase.contains("scalaudf"), "no Scala UDF in the towers")
  }

  test("txt_sentences: shuffle-free explode, text-only scan") {
    val p = plan("txt_sentences")
    assert(!p.contains("Exchange"), s"segmentation must be shuffle-free:\n${p.take(2000)}")
    assert(p.contains("Generate"), "posexplode must stay in the scan partition")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to (doc_id, text):\n" + p.take(2000))
  }

  test("no unbounded global-sort window in src/main (bounded sites must say so)") {
    // A Window.orderBy WITHOUT partitionBy range-partitions the whole
    // input into ONE task — the scale-killer the r12 harness tertile
    // assignment smuggled into benched streaming twins (VERDICT r12 #1,
    // since replaced with arithmetic bounds). This guard closes the
    // loophole permanently AT THE SOURCE: every WindowSpec built
    // directly with orderBy must carry a `bounded-by-construction`
    // annotation within its preceding four lines (or inline), stating
    // why its input cannot grow with the corpus (e.g. post-limit top-k).
    // Partitioned windows (`Window.partitionBy(...).orderBy`) don't
    // match — per-key sorts scale with the key cardinality.
    val re = """Window\s*\.\s*orderBy\s*\(""".r
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles.foreach(walk)
      else if (f.getName.endsWith(".scala")) {
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val lines = text.split("\n", -1)
        for (m <- re.findAllMatchIn(text)) {
          val line = text.substring(0, m.start).count(_ == '\n') // 0-based
          val context = lines.slice(math.max(0, line - 4), line + 1).mkString("\n")
          if (!context.contains("bounded-by-construction"))
            offenders += s"${f.getPath}:${line + 1}"
        }
      }
    walk(new java.io.File("src/main/scala"))
    assert(offenders.isEmpty,
      "unannotated global-sort Window (add partitionBy, or prove the input " +
        s"bounded and annotate `bounded-by-construction`): ${offenders.mkString(", ")}")
  }

  test("every registry pair generator carries the hot-bucket cap") {
    // r14 review: dd_resolve / pp_split_grouped built their candidate
    // pairs with an inline uncapped self-join, bypassing blockedPairs'
    // default-on maxBucket guard. Pin the repair twice over:
    // (1) the shared candidate stage carries capBuckets' window column
    //     (`_bsz`) — the observable signature of the guard — in its
    //     analyzed plan (the component entries themselves materialize
    //     through checkpointed connected components, which cuts lineage,
    //     so the helper is the right assertion point);
    val docs = Graft.documents(spark, sf)
    val helper = graft.queries.PipelineQueries.blockedVerifiedPairs(docs)
      .queryExecution.analyzed.toString
    assert(helper.contains("_bsz"),
      s"blockedVerifiedPairs lost the capBuckets guard:\n${helper.take(2000)}")
    // (2) the guarded CROSS-corpus form covers the ingest chains too:
    //     pp_ingest's candidate stage must carry the cap (its analyzed
    //     plan is lazy, so the assertion works directly)
    val ing = SparkEntry.queries("pp_ingest")(spark, sf).queryExecution.analyzed.toString
    assert(ing.contains("_bsz"),
      s"pp_ingest generates cross-corpus candidate pairs without the capBuckets guard:\n${ing.take(2000)}")
    // (3) no query source builds the raw uncapped blocking join: the
    //     inline `.join(x, Seq("lang", "n_chars"))` pair idiom must not
    //     reappear — candidate generation goes through Dedup.blockedPairs
    //     / crossBlockedPairs (same source-scan idiom as the
    //     global-sort-Window offender walk below)
    Seq("queries/PipelineQueries.scala", "queries/CoreQueries.scala",
      "streaming/StreamingQueries.scala").foreach { f =>
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"src/main/scala/graft/$f")), "UTF-8")
      assert(!src.contains("""Seq("lang", "n_chars"))"""),
        s"$f builds an inline uncapped blocking join — route it through " +
          "Dedup.blockedPairs / crossBlockedPairs so the maxBucket guard applies")
    }
  }

  private def withConf[A](kv: (String, String))(body: => A): A = {
    val (k, v) = kv
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old match {
      case Some(o) => spark.conf.set(k, o)
      case None    => spark.conf.unset(k)
    }
  }

  test("pagerank round: id-hash shuffles only, map-side partials, no cartesian, no global sort") {
    // the loop checkpoints every round, so the query-level executed
    // plan is just the final scan — pin the ROUND's shape directly
    val docs = Graft.documents(spark, sf)
    val edges = graft.graph.Graph.syntheticLinkGraph(docs)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = edges.join(deg, Seq("src")).select(col("src"), col("dst"), col("outdeg"))
    val base = docs.select(col("doc_id").as("node")).withColumn("tp", lit(150000L))
    val ranks = base.select(col("node"), lit(1000000L).as("r"))
    val p = graft.graph.Graph.pageRankRound(e, base, ranks, 850)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pagerank round must join on the node id:\n" + p.take(3000))
    assert(p.contains("partial_sum"),
      "in-mass aggregation must combine map-side:\n" + p.take(3000))
    assert(!p.contains("Exchange rangepartitioning"),
      "pagerank never needs a global sort:\n" + p.take(3000))
    // and the query-level plan confirms the checkpoint contract:
    // the final round arrives as a materialized scan, constant-size at any K
    val pq = plan("g_pagerank")
    assert(pq.contains("Scan ExistingRDD"),
      "prior round must arrive as a checkpoint scan:\n" + pq.take(3000))
  }

  test("bitext mining: capped bucket join + pair-scoped rank windows, no cartesian") {
    val p = plan("pp_bitext_mine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "bitext candidates must come from the SRP bucket join:\n" + p.take(3000))
    assert(p.contains("Window"), "mutual-best needs the two rank windows")
    assert(!p.contains("Exchange rangepartitioning"),
      "rank windows partition by src/tgt id — never a global sort:\n" + p.take(3000))
  }

  test("curriculum: position windows partition by (epoch, bucket) — no global sort") {
    val p = plan("pp_curriculum")
    assert(!p.contains("Exchange rangepartitioning"),
      "curriculum positions must never range-partition:\n" + p.take(3000))
    assert(p.contains("Window"), p.take(2000))
  }

  test("blocklist filter: broadcast blocklist join, suffixes never shuffle the corpus twice") {
    val p = plan("pp_blocklist")
    assert(p.contains("BroadcastHashJoin"),
      "the 3-entry blocklist must broadcast:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("html extraction runs shuffle-free (pure codegen'd expression chain)") {
    val p = plan("txt_html_extract")
    assert(!p.contains("Exchange"),
      "WET extraction is a scan-local regex chain:\n" + p.take(3000))
    // whole-stage codegen renders as "*(n)" in the simple plan string
    assert(p.contains("*("), "extraction chain must stay codegen'd:\n" + p.take(2000))
  }

}
