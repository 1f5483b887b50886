package graft

import graft.dedup.Dedup
import graft.functions.{RollingHash, TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Scalar/aggregate function tests: the native Catalyst rolling-hash
  * expression (interpreted + codegen + SQL registration), text analysis
  * determinism, vector math, and sketch error bounds.
  */
class FunctionsSpec extends GraftTest {

  test("rolling_hash: SQL function (codegen path) matches the reference impl") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(80)).mkString +
      (if (rnd.nextBoolean()) " ünïcödé 漢字" else ""))
    val texts = Seq("hello world", "", "a", "the quick brown fox") ++ random
    texts.distinct.toDF("t").createOrReplaceTempView("rh_in")
    val viaSql = spark.sql("SELECT t, rolling_hash(t) AS h FROM rh_in")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    texts.distinct.foreach { t =>
      assert(viaSql(t) === RollingHash.hash(UTF8String.fromString(t)),
        s"codegen result differs for '$t'")
    }
  }

  test("rolling_hash: null-safe and type-checked") {
    import spark.implicits._
    Seq(Some("x"), None).toDF("t").createOrReplaceTempView("rh_null")
    val rows = spark.sql("SELECT rolling_hash(t) FROM rh_null").collect()
    assert(rows.count(_.isNullAt(0)) === 1)
    val err = intercept[Exception] {
      spark.sql("SELECT rolling_hash(42)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("string"))
  }

  test("tokens/fingerprint are deterministic and normalization-invariant") {
    import spark.implicits._
    val df = Seq("Hello  World", "hello world", "hello  world ").toDF("t")
      .select(TextFunctions.fingerprintHex(col("t")).as("fp"))
    val fps = df.collect().map(_.getString(0)).toSet
    assert(fps.size === 1, s"whitespace/case-normalized dups must share a fingerprint: $fps")
  }

  test("quality features have sane ranges on the corpus") {
    val rows = Graft.documents(spark, sf).select(
      TextFunctions.punctRatio(col("text")).as("pr"),
      ColumnForms.stopwordRatio(col("text")).as("sr"),
      TextFunctions.meanTokenLen(col("text")).as("mtl")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) >= 0 && r.getDouble(0) <= 1)
      assert(r.getDouble(1) >= 0 && r.getDouble(1) <= 1)
      assert(r.getDouble(2) > 0 && r.getDouble(2) < 30)
    }
  }

  test("langid is deterministic and falls back to 'und'") {
    import spark.implicits._
    val out = Seq("der die das und test", "xyzzy qwfp", "the cat and the hat")
      .toDF("t").select(ColumnForms.argmaxLang(col("t")).as("l"))
      .collect().map(_.getString(0))
    assert(out(0) === "de")
    assert(out(1) === "und")
    assert(out(2) === "en")
  }

  test("native srp_bucket matches the HOF expression exactly") {
    val emb = Graft.embeddings(spark, sf)
    val mismatches = emb.select(
        ColumnForms.srpBucket(col("embedding"), 8).as("hof"),
        expr("srp_bucket(embedding, 8)").as("native"))
      .where(col("hof") =!= col("native")).count()
    assert(mismatches === 0L, s"$mismatches vectors bucket differently")
  }

  test("native cosine_sim kernel matches the HOF expression to 1e-12") {
    val emb = Graft.embeddings(spark, sf).limit(200)
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .where(col("a") < col("b")).limit(500)
    val diffs = pairs.select(
        abs(ColumnForms.cosine(col("va"), col("vb")) -
          VectorFunctions.cosineNative("va", "vb")).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(diffs < 1e-12, s"max |HOF - native| = $diffs")
  }

  test("cosine similarity: exact on known vectors, self-similarity 1") {
    import spark.implicits._
    val df = Seq((Array(1f, 0f, 0f), Array(0f, 1f, 0f)), (Array(1f, 2f, 3f), Array(1f, 2f, 3f)))
      .toDF("a", "b")
      .select(ColumnForms.cosine(col("a"), col("b")).as("c"))
    val out = df.collect().map(_.getDouble(0))
    assert(math.abs(out(0)) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
  }

  test("HLL sketch estimate within published error bound") {
    val ev = Graft.eventsStream(spark, sf)
    val est = ev.agg(approx_count_distinct("key", 0.02).as("e")).head().getLong(0)
    val exact = ev.select("key").distinct().count()
    assert(math.abs(est - exact).toDouble / exact < 0.1, s"HLL est=$est exact=$exact")
  }

  test("CMS estimates never undercount (overestimate-only guarantee)") {
    // the raw sketch contract…
    val raw = graft.functions.Sketches.cmsEstimate(Graft.eventsStream(spark, sf), "value")
      .collect()
    raw.foreach { r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_cnt"))
    }
    // …and the certified query's boolean form of it (what the oracle
    // asserts as TRUE)
    val out = queries.PipelineQueries.all("sk_cms")(spark, sf).collect()
    out.foreach { r =>
      assert(r.getAs[Boolean]("cms_no_undercount"), r.toString)
      assert(r.getAs[Boolean]("cms_within_eps"), r.toString)
    }
  }

  test("registerTables exposes the whole corpus to pure SQL") {
    Graft.registerTables(spark, sf)
    val out = spark.sql(
      """SELECT key, count(*) AS cnt, round(sum(amount), 2) AS total
         FROM events_stream GROUP BY key ORDER BY cnt DESC LIMIT 3""").collect()
    assert(out.length === 3)
    assert(spark.sql("SELECT count(*) FROM lineitem").head().getLong(0) > 0)
    // native function + view compose in one SQL statement
    val fp = spark.sql("SELECT rolling_hash(text) AS h FROM documents LIMIT 5").collect()
    assert(fp.length === 5)
    // the struct kernels are full SQL citizens too — field access and WHERE
    val q = spark.sql(
      """SELECT doc_id, text_stats(text).quality_ok AS ok,
                lang_scores(text).lang_pred AS lang_pred,
                repetition_stats(text).dup3_ratio AS dup3
         FROM documents
         WHERE text_stats(text).n_tokens > 0 LIMIT 5""").collect()
    assert(q.length === 5)
    assert(q.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("frame sampling slices every nth fixed-size frame") {
    import spark.implicits._
    // 10-byte payload, 2-byte frames → frames 0..4; every 2nd → 0,2,4
    val assets = graft.multimodal.Multimodal.toAssets(
      Seq((1L, "abcdefghij")).toDF("doc_id", "text"), "doc_id", "text")
    val frames = graft.multimodal.Multimodal.sampleFrames(assets, frameBytes = 2, everyNth = 2)
      .collect().map(r => (r.getAs[Int]("frame_idx"), new String(r.getAs[Array[Byte]]("frame"))))
      .sortBy(_._1)
    assert(frames.toSeq === Seq((0, "ab"), (2, "ef"), (4, "ij")))
  }

  test("multimodal feature extraction is partition-parallel and exact") {
    import spark.implicits._
    val docs = Seq((1L, "ab"), (2L, "")).toDF("doc_id", "text")
    val feats = graft.multimodal.Multimodal.extractFeatures(
      graft.multimodal.Multimodal.toAssets(docs, "doc_id", "text"))
      .collect().map(r => r.getAs[Long]("asset_id") ->
        ((r.getAs[Long]("n_bytes"), r.getAs[Int]("head_byte"), r.getAs[Long]("byte_sum")))).toMap
    assert(feats(1L) === ((2L, 'a'.toInt, ('a' + 'b').toLong)))
    assert(feats(2L) === ((0L, -1, 0L)))
  }

  test("native shingle_hashes is bit-exact with the columnar form (corpus + edges)") {
    import spark.implicits._
    import graft.dedup.Dedup
    val edge = Seq("", "   ", "!!! ??? ...", "one", "one two", "one two three",
      "one  two\tthree\nfour", "héllo wörld naïve café test words here",
      "a_b_c under_scores 123 mix3d t0kens", "ALL CAPS AND lower Mixed Case Words")
      .toDF("text").withColumn("doc_id", monotonically_increasing_id())
    val corpus = Graft.documents(spark, sf).select("doc_id", "text").limit(200)
    Seq(edge, corpus).foreach { df =>
      df.createOrReplaceTempView("sh_in")
      for (k <- Seq(1, 3, 5)) {
        val native = spark.sql(s"SELECT doc_id, shingle_hashes(text, $k) AS h FROM sh_in")
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        val columnar = df.select(col("doc_id"), ColumnForms.shingleHashes(col("text"), k).as("h"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        assert(native === columnar, s"k=$k mismatch")
      }
      // token_hashes: all tokens in order, duplicates preserved
      val nativeTok = spark.sql("SELECT doc_id, token_hashes(text) AS h FROM sh_in")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val hofTok = df.select(col("doc_id"),
          transform(TextFunctions.tokens(col("text")), t => xxhash64(t)).as("h"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(nativeTok === hofTok, "token_hashes mismatch")
      // gram_hashes: PER-POSITION grams, duplicates preserved, empty
      // under k tokens — spanRemove's scan kernel vs its Column fallback
      for (k <- Seq(2, 8)) {
        val nativeGram = spark.sql(s"SELECT doc_id, gram_hashes(text, $k) AS h FROM sh_in")
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        val hofGram = df.select(col("doc_id"),
            ColumnForms.positionalGramHashes(col("text"), k).as("h"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        assert(nativeGram === hofGram, s"gram_hashes k=$k mismatch")
      }
    }
  }

  test("native inter_size is value-identical to size(array_intersect) (r18)") {
    import spark.implicits._
    // corpus gram-set pairs — the exact shape the verify stages feed it
    val sets = Graft.documents(spark, sf).limit(120)
      .select(col("doc_id"), call_function("shingle_hashes", col("text"), lit(3)).as("toks"))
    val pairs = sets.as("x").crossJoin(sets.as("y")).limit(4000)
      .select(col("x.toks").as("a"), col("y.toks").as("b"))
    val diff = pairs
      .withColumn("k", coalesce(call_function("inter_size", col("a"), col("b")), lit(-1)))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))))
      .where(!(col("k") <=> col("ref")))
    assert(diff.count() === 0L, "inter_size disagrees with array_intersect on corpus sets")
    // edge cases: duplicates count once, null elements match only each
    // other, empty arrays, null argument → -1 through the dispatch's
    // coalesce (size's legacy -1-on-null, which the verify ratios pin)
    val edge = Seq(
      (Seq[java.lang.Long](1L, 1L, 2L), Seq[java.lang.Long](1L, 3L)),
      (Seq[java.lang.Long](1L, null, 2L), Seq[java.lang.Long](null, 2L, 2L)),
      (Seq[java.lang.Long](null), Seq[java.lang.Long](1L)),
      (Seq.empty[java.lang.Long], Seq[java.lang.Long](1L)),
      (null, Seq[java.lang.Long](1L))).toDF("a", "b")
    val edgeDiff = edge
      .withColumn("k", coalesce(call_function("inter_size", col("a"), col("b")), lit(-1)))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))))
      .where(!(col("k") <=> col("ref")))
    assert(edgeDiff.count() === 0L, "inter_size edge-case mismatch")
    // the presorted kernel (merge over sort_array'd inputs, no per-pair
    // copy/sort; no SQL name, so built directly) must agree on the same
    // corpus pairs + edges
    def interSorted(a: String, b: String) = coalesce(ColumnBridge.column(
      graft.functions.InterSizeSorted(ColumnBridge.expression(sort_array(col(a))),
        ColumnBridge.expression(sort_array(col(b))))), lit(-1))
    val sortedDiff = pairs
      .withColumn("k", interSorted("a", "b"))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))))
      .where(!(col("k") <=> col("ref")))
    assert(sortedDiff.count() === 0L,
      "inter_size_sorted disagrees with array_intersect on corpus sets")
    val sortedEdgeDiff = edge
      .withColumn("k", interSorted("a", "b"))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))))
      .where(!(col("k") <=> col("ref")))
    assert(sortedEdgeDiff.count() === 0L, "inter_size_sorted edge-case mismatch")
  }

  test("per-row minhash_sig/minhash_sig_size/simhash_sig match the aggregate forms (r19)") {
    import spark.implicits._
    // corpus docs + edge cases: empty text, all-punctuation (0 tokens →
    // NO row, the aggregate form's contract), fewer tokens than k (the
    // token-hash fallback), null text
    val edge = Seq((100001L, ""), (100002L, "!!! ... ???"), (100003L, "one two"),
      (100004L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val docs = Graft.documents(spark, sf).select(col("doc_id"), col("text"))
      .limit(200).unionByName(edge)
    // the column k-min aggregation over exploded shingle hashes
    val columnar = ColumnForms.minhashSigsColumnar(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2)))).toMap
    assert(columnar.contains(100003L) &&
      Seq(100001L, 100002L, 100004L).forall(d => !columnar.contains(d)),
      "token-less docs get no signature, short docs get one")
    // minhash_sig vs the k-min aggregation
    val perRow = Dedup.minhashSigs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(perRow === columnar.map { case (d, (sig, _)) => d -> sig },
      "minhash_sig disagrees with the k-min aggregation")
    // minhash_sig_size: same signatures plus the distinct-shingle count
    val perRowSz = docs.select(col("doc_id").as("doc"),
        explode(expr("minhash_sig_size(text, 3, 64)")).as("ss"))
      .select(col("doc"), col("ss.sig"), col("ss.nset"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2)))).toMap
    assert(perRowSz === columnar, "minhash_sig_size disagrees with the aggregate form")
    // simhash_sig vs 64 conditional sums over exploded token hashes
    val perRowSim = Dedup.simhashSigs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aggSim = ColumnForms.simhashFromCounts(docs.select(col("doc_id").as("doc"),
        explode(transform(TextFunctions.tokens(col("text")), t => xxhash64(t))).as("h")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perRowSim === aggSim, "simhash_sig disagrees with the conditional-sum form")
  }

  test("dsirWeightsTagged equals dsirWeights on a predicate-sliced target (r19)") {
    val docs = Graft.documents(spark, sf)
    val pred = col("lang") === "en"
    val two = TextFunctions.dsirWeights(docs, docs.where(pred), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val one = TextFunctions.dsirWeightsTagged(docs, pred, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(one.toSeq === two.toSeq,
      "tagged single-scan DSIR disagrees with the two-frame form")
  }

  test("quantile sketch estimates land within rank error of exact percentiles") {
    import spark.implicits._
    val ev = Graft.eventsStream(spark, sf).select(col("amount").cast("double").as("v"))
    val n = ev.count()
    val approx = ev.agg(approx_percentile(col("v"), array(lit(0.5), lit(0.95)), lit(10000)))
      .head().getSeq[Double](0)
    val exactRank = (q: Double) => ev.orderBy("v").limit((q * n).toInt + 1)
      .orderBy(col("v").desc).head().getDouble(0)
    // accuracy 10000 → rank error ≤ n/10000; assert via value sandwich at ±1% rank
    Seq((0.5, approx(0)), (0.95, approx(1))).foreach { case (q, est) =>
      val lo = exactRank(math.max(q - 0.01, 0.0))
      val hi = exactRank(math.min(q + 0.01, 1.0) - 1e-9)
      assert(est >= lo && est <= hi, s"q=$q est=$est not in [$lo, $hi]")
    }
  }

  test("bloom pruning admits every exact semi-join row (no false negatives)") {
    val out = graft.queries.PipelineQueries.all("sk_bloom_prune")(spark, sf).head()
    assert(out.getAs[Boolean]("bloom_admits_all"),
      "bloom-pruned set must contain every exact semi-join row")
    assert(out.getAs[Boolean]("bloom_fp_bounded"),
      "false-positive admissions must stay within 2x the configured fpp")
    // and the exact count is sane: at most the total view count
    val total = Graft.eventsStream(spark, sf).where(col("value") === "view").count()
    assert(out.getAs[Long]("exact_semi_views") <= total)
  }

  test("CmsEstimator matches direct sketch estimates across fresh array copies") {
    val sk = org.apache.spark.util.sketch.CountMinSketch.create(0.001, 0.99, 42)
    (1 to 100).foreach(i => sk.add(s"k${i % 7}"))
    val bos = new java.io.ByteArrayOutputStream()
    sk.writeTo(bos)
    val bytes = bos.toByteArray
    val est = new graft.functions.CmsEstimator
    // distinct array instances with equal content — what Spark's row→UDF
    // conversion hands the functor on every row
    (0 until 7).foreach { i =>
      assert(est(bytes.clone(), s"k$i") === sk.estimateCount(s"k$i"))
    }
  }

  test("PII redaction replaces emails, IPs, and phones; clean text untouched") {
    import spark.implicits._
    val rows = Seq(
      ("mail me at jane.doe+x@sub.example.org today", "mail me at <EMAIL> today"),
      ("server 10.0.0.7 then call +1 (555) 123-4567", "server <IP> then call <PHONE>"),
      ("two mails a@b.co and c@d.io here", "two mails <EMAIL> and <EMAIL> here"),
      ("plain sentence with words only", "plain sentence with words only"),
      ("dial 555-123-4567 now", "dial <PHONE> now"))
    val out = rows.map(_._1).toDF("text")
      .select(TextFunctions.redactPii(col("text")).as("r"))
      .collect().map(_.getString(0))
    assert(out.toSeq === rows.map(_._2))
  }

  test("stratified sampling respects per-stratum rates and is a stable subset") {
    import spark.implicits._
    val rows = (0L until 4000L).map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    val kept = rows.where(TextFunctions.stratifiedKeep(col("id"), col("lang"),
        Map("en" -> 0.25), defaultRate = 0.75))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 2000 per stratum; md5 buckets ≈ uniform → generous bands
    assert(kept("en") > 350 && kept("en") < 650, kept.toString)
    assert(kept("de") > 1350 && kept("de") < 1650, kept.toString)
    // raising a rate only ADDS rows (hash-threshold monotonicity)
    val small = rows.where(TextFunctions.stratifiedKeep(col("id"), col("lang"),
      Map("en" -> 0.25), 0.25)).select("id").collect().map(_.getLong(0)).toSet
    val big = rows.where(TextFunctions.stratifiedKeep(col("id"), col("lang"),
      Map("en" -> 0.5), 0.5)).select("id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big))
  }

  test("sequence packing bins by prefix-sum token budget, deterministically") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "f"), (4L, "g h i j k l m"))
      .toDF("doc_id", "text")
    // before-doc prefix sums at budget 4: 0, 3, 5, 6 → bins 0, 0, 1, 1
    val bins = TextFunctions.packBins(docs, "doc_id", "text", tokenBudget = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bins === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
    // repartitioning must not change the assignment (global order is the contract)
    val again = TextFunctions.packBins(docs.repartition(5), "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again === bins)
  }

  test("packBins at corpus scale is invariant to input layout") {
    // the round-3 implementation derived offsets from spark_partition_id
    // after a range shuffle — stable under this spec's toy data but not
    // across AQE re-plans, which flipped bins between runs at the driver.
    // Lock the contract on the real corpus: identical bins whether the
    // input arrives as-read, hash-scattered, or reverse-sorted.
    val docs = Graft.documents(spark, sf)
    def run(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      TextFunctions.packBins(d, "doc_id", "text", tokenBudget = 512)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val asRead = run(docs)
    assert(run(docs.repartition(17)) === asRead)
    assert(run(docs.orderBy(col("doc_id").desc)) === asRead)
  }

  test("temperature mixture interpolates between natural and balanced") {
    val docs = Graft.documents(spark, sf)
    val natural = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val minN = natural.values.min
    // T=1 → rate 1 for every stratum: the corpus passes through unchanged
    assert(TextFunctions.temperatureMix(docs, "doc_id", "lang", 1.0).count() === docs.count())
    // T=2 → each stratum lands near n_s·sqrt(min/n_s) (hash-bucket noise
    // aside) and never exceeds its natural size
    val t2 = TextFunctions.temperatureMix(docs, "doc_id", "lang", 2.0)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    natural.foreach { case (lang, n) =>
      val kept = t2.getOrElse(lang, 0L)
      val expected = math.floor(10000.0 * math.sqrt(minN.toDouble / n)) / 10000.0 * n
      assert(kept <= n, s"$lang kept $kept > natural $n")
      assert(math.abs(kept - expected) <= math.max(15.0, expected * 0.25),
        s"$lang kept $kept, expected ≈ $expected")
    }
    // membership is row-stable under relayout
    val ids = TextFunctions.temperatureMix(docs, "doc_id", "lang", 2.0)
      .collect().map(_.getLong(0)).toSet
    val again = TextFunctions.temperatureMix(docs.repartition(13), "doc_id", "lang", 2.0)
      .collect().map(_.getLong(0)).toSet
    assert(again === ids)
  }

  test("repetition signals: duplicate-gram ratios and top-token share, hand-computed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"),       // 2-grams: [a a, a a, a b] → dup2 = 1-2/3; 3-grams distinct → 0; top a = 3/4
      (2L, "x y z w"),       // all distinct everywhere
      (3L, "go go go go")    // fully repetitive
    ).toDF("doc_id", "text")
    val out = TextFunctions.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) === ((0.3333, 0.0, 0.75)))
    assert(out(2L) === ((0.0, 0.0, 0.25)))
    assert(out(3L) === ((0.6667, 0.5, 1.0)))
  }

  test("chunk spans cover every token with the configured overlap") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 5).map(i => s"t$i").mkString(" ")),    // 5 toks, one chunk
      (2L, (1 to 10).map(i => s"t$i").mkString(" ")),   // maxTok=4, overlap=1 → stride 3
      (3L, "")                                          // token-less: no chunks
    ).toDF("doc_id", "text")
    val spans = TextFunctions.chunkSpans(docs, "doc_id", "text", maxTok = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(!spans.exists(_._1 == 3L))
    assert(spans.filter(_._1 == 1L).toSeq === Seq((1L, 0L, 0L, 4L), (1L, 1L, 3L, 5L)))
    // doc 2: n=10 → 1 + ceil(6/3) = 3 chunks: [0,4) [3,7) [6,10)
    assert(spans.filter(_._1 == 2L).toSeq ===
      Seq((2L, 0L, 0L, 4L), (2L, 1L, 3L, 7L), (2L, 2L, 6L, 10L)))
    // every consecutive pair overlaps by exactly `overlap` until the tail
    spans.groupBy(_._1).values.foreach { cs =>
      cs.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(b._3 === a._3 + 3, s"stride must be 3: $a -> $b")
        case _ =>
      }
    }
  }

  test("native text_stats equals the columnar quality features over the corpus + edges") {
    import spark.implicits._
    val docs = Graft.documents(spark, sf)
    val native = graft.functions.TextFunctions.qualityFeatures(docs, "doc_id", "text")
    assert(native.queryExecution.executedPlan.toString.contains("text_stats"),
      "session with extensions must dispatch the native kernel")
    val columnar = docs.select(col("doc_id"),
      TextFunctions.wsTokenCount(col("text")).as("n_tokens"),
      ColumnForms.subwordCount(col("text")).as("n_subwords"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      ColumnForms.stopwordRatio(col("text")).as("stopword_ratio"),
      TextFunctions.meanTokenLen(col("text")).as("mean_token_len"),
      TextFunctions.qualityOk(col("text")).as("quality_ok"))
    assert(native.except(columnar).count() === 0 && columnar.except(native).count() === 0)
    // edge shapes: empty, whitespace-only, punctuation soup, stopword-only,
    // tabs/newlines, underscores and digits, short-but-clean
    val edges = Seq("", "   \t\n ", "!!! ??? ,,,", "the and of to in is a an or",
      "ab_1 cd_2\tef_3\nnine ten", "x", "clean words here exactly five ok")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val ne = graft.functions.TextFunctions.qualityFeatures(edges, "doc_id", "text")
    val ce = edges.select(col("doc_id"),
      TextFunctions.wsTokenCount(col("text")).as("n_tokens"),
      ColumnForms.subwordCount(col("text")).as("n_subwords"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      ColumnForms.stopwordRatio(col("text")).as("stopword_ratio"),
      TextFunctions.meanTokenLen(col("text")).as("mean_token_len"),
      TextFunctions.qualityOk(col("text")).as("quality_ok"))
    assert(ne.except(ce).count() === 0 && ce.except(ne).count() === 0,
      s"native:\n${ne.collect().mkString("\n")}\ncolumnar:\n${ce.collect().mkString("\n")}")
  }

  test("native linear_score equals the columnar classifier over corpus + edges; weights pin") {
    import spark.implicits._
    val docs = Graft.documents(spark, sf)
    val k = 1 << 20
    val native = TextFunctions.classifierScore(docs, "doc_id", "text", buckets = k)
    assert(native.queryExecution.executedPlan.toString.contains("linear_score"),
      "session with extensions must dispatch the native kernel")
    def columnarScore(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), ColumnForms.linearScoreParts(col("text"), k).as("_ls"))
      .select(col("doc_id"), col("_ls.n_tokens").as("n_tokens"),
        col("_ls.score_milli").as("score_milli"))
      .withColumn("kept", col("n_tokens") > 0 && col("score_milli") >= lit(0L) * col("n_tokens"))
    val columnar = columnarScore(docs)
    assert(native.except(columnar).count() === 0 && columnar.except(native).count() === 0)
    // edges: empty, whitespace-only, punctuation soup, single token, case
    // folding (HELLO == hello token hash), underscore/digit tokens
    val edges = Seq("", "   \t\n ", "!!! ??? ,,,", "x", "HELLO hello",
      "ab_1 cd_2 99 _")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val ne = TextFunctions.classifierScore(edges, "doc_id", "text", buckets = k)
    val ce = columnarScore(edges)
    assert(ne.except(ce).count() === 0 && ce.except(ne).count() === 0,
      s"native:\n${ne.collect().mkString("\n")}\ncolumnar:\n${ce.collect().mkString("\n")}")
    // hand-pinned arithmetic: one known token scored through the public
    // weight rule from the raw xxhash64 — and a case-folding consequence
    val row = ne.collect().map(r => r.getLong(0) -> r).toMap
    val helloHash = Seq(("hello")).toDF("t").select(xxhash64(col("t"))).head().getLong(0)
    assert(row(4L).getLong(2) === 2 * graft.functions.LinearScore.weight(helloHash, k),
      "HELLO and hello must hash to the same feature slot")
    assert(row(0L).getInt(1) === 0 && !row(0L).getBoolean(3), "empty doc drops")
    // threshold semantics: raising the threshold can only shrink the kept set
    val keptLo = native.where(col("kept")).count()
    val keptHi = TextFunctions.classifierScore(docs, "doc_id", "text", buckets = k,
      thrMilli = 200L).where(col("kept")).count()
    assert(keptHi <= keptLo && keptLo > 0, s"kept monotone in threshold: $keptHi <= $keptLo")
  }

  test("native lang_scores equals the columnar argmax over the corpus + tie/edge cases") {
    import spark.implicits._
    val docs = Graft.documents(spark, sf)
    val native = docs.select(col("doc_id"),
      graft.functions.TextFunctions.argmaxLangFast(col("text")).as("lang_pred"))
    assert(native.queryExecution.executedPlan.toString.contains("lang_scores"))
    val columnar = docs.select(col("doc_id"),
      ColumnForms.argmaxLang(col("text")).as("lang_pred"))
    assert(native.except(columnar).count() === 0 && columnar.except(native).count() === 0)
    // ties (de/en markers equal → alphabetical), no-marker → und, case folding,
    // duplicate-occurrence counting, >8-byte tokens ignored by both forms
    val edges = Seq("the und", "xyzzy plugh", "THE AND OF", "la la la le et est",
      "unremarkable letters", "das ist the was with und")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val ne = edges.select(col("doc_id"),
      graft.functions.TextFunctions.argmaxLangFast(col("text")).as("lang_pred"))
    val ce = edges.select(col("doc_id"), ColumnForms.argmaxLang(col("text")).as("lang_pred"))
    assert(ne.except(ce).count() === 0 && ce.except(ne).count() === 0,
      s"native:\n${ne.collect().mkString("\n")}\ncolumnar:\n${ce.collect().mkString("\n")}")
  }

  test("native repetition_stats equals the columnar form over the corpus") {
    val docs = Graft.documents(spark, sf)
    val native = graft.functions.TextFunctions.repetitionSignals(docs, "doc_id", "text")
    assert(native.queryExecution.executedPlan.toString.contains("repetition_stats"),
      "session with extensions must dispatch the native kernel")
    val columnar = ColumnForms.repetitionSignalsColumnar(docs, "doc_id", "text")
    assert(native.except(columnar).count() === 0 && columnar.except(native).count() === 0,
      "hash-based distinct counts must equal string-based ones on real text")
  }

  test("balanced mix downsamples every stratum toward the smallest one") {
    import spark.implicits._
    // 300 en / 600 de / 100 fr → every stratum targets ~100
    val rows = (0L until 1000L).map { i =>
      (i, if (i < 300) "en" else if (i < 900) "de" else "fr")
    }.toDF("id", "lang")
    val kept = TextFunctions.balancedMix(rows, "id", "lang")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet === Set("en", "de", "fr"))
    // fr's rate is (100*10000) div 100 = 10000 → ALL of fr kept
    assert(kept("fr") === 100L, kept.toString)
    // others hash-threshold to ~100 each (md5 ≈ uniform, generous bands)
    assert(kept("en") > 60 && kept("en") < 140, kept.toString)
    assert(kept("de") > 60 && kept("de") < 140, kept.toString)
    // stability: repartitioning must not change membership
    val a = TextFunctions.balancedMix(rows, "id", "lang")
    val b = TextFunctions.balancedMix(rows.repartition(7), "id", "lang")
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }

  test("weighted mix realizes target ratios at the largest feasible size") {
    import spark.implicits._
    // 300 en / 600 de / 100 fr, weights en:1 de:2 fr:1
    // units: min(300/1, 600/2, 100/1) = 100 → targets en 100, de 200, fr 100
    val rows = (0L until 1000L).map { i =>
      (i, if (i < 300) "en" else if (i < 900) "de" else "fr")
    }.toDF("id", "lang")
    val kept = TextFunctions.weightedMix(rows, "id", "lang", Map("de" -> 2L), 1L)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // fr is the binding stratum: threshold 10000 → kept whole
    assert(kept("fr") === 100L, kept.toString)
    assert(kept("en") > 60 && kept("en") < 140, kept.toString)
    assert(kept("de") > 150 && kept("de") < 250, kept.toString)
    // realized ratio de:en ≈ 2 (hash-threshold noise aside)
    val ratio = kept("de").toDouble / kept("en").toDouble
    assert(ratio > 1.4 && ratio < 2.8, s"expected ~2:1, got $ratio ($kept)")
  }

  test("deterministic shuffle is a stable permutation with dense per-shard positions") {
    import spark.implicits._
    val ids = (0L until 500L).toDF("id")
    val shuffled = TextFunctions.deterministicShuffle(ids, "id", nShards = 8, seed = 1)
    val rows = shuffled.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // total: every id exactly once
    assert(rows.map(_._1).toSet === (0L until 500L).toSet)
    // positions within a shard are 1..n with no gaps
    rows.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (1L to rs.length).toSeq)
    }
    // reproducible across partitionings; a different seed reorders
    val again = TextFunctions.deterministicShuffle(ids.repartition(9), "id", 8, 1)
    assert(shuffled.except(again).count() === 0 && again.except(shuffled).count() === 0)
    val other = TextFunctions.deterministicShuffle(ids, "id", 8, 2)
    assert(other.except(shuffled).count() > 0)
  }

  test("split assignment is deterministic, total, and ratio-plausible") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("id")
    val assigned = ids.select(col("id"), TextFunctions.splitAssign(col("id")).as("split"))
    val counts = assigned.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts.values.sum === 2000L)
    // md5 buckets ≈ uniform → generous bands around 80/10/10
    assert(counts("train") > 1400 && counts("train") < 1800, counts.toString)
    assert(counts("val") > 100 && counts("val") < 350, counts.toString)
    assert(counts("test") > 100 && counts("test") < 350, counts.toString)
    // re-evaluation (fresh plan, different partitioning) gives identical rows
    val again = ids.repartition(7)
      .select(col("id"), TextFunctions.splitAssign(col("id")).as("split"))
    assert(assigned.except(again).count() === 0 && again.except(assigned).count() === 0)
  }

  test("tokenEntropy: known distributions, empty text, repartition-stable") {
    import spark.implicits._
    val out = Seq(
      ("uniform2", "aa bb aa bb"),          // 2 tokens, p=0.5 each → 1 bit
      ("uniform4", "aa bb cc dd"),          // 4 equiprobable → 2 bits
      ("constant", "aa aa aa aa"),          // degenerate → 0 bits
      ("empty", ""))
      .toDF("k", "t")
      .select(col("k"), TextFunctions.tokenEntropy(col("t")).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out("uniform2") - 1.0) < 1e-4, out.toString)
    assert(math.abs(out("uniform4") - 2.0) < 1e-4, out.toString)
    assert(out("constant") === 0.0)
    assert(out("empty") === 0.0)
    val docs = Graft.documents(spark, sf)
    val a = docs.select(col("doc_id"), TextFunctions.tokenEntropy(col("text")).as("e"))
    val b = docs.repartition(7)
      .select(col("doc_id"), TextFunctions.tokenEntropy(col("text")).as("e"))
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }

  test("detLn: matches math.log to <1e-14 relative over integer range") {
    import spark.implicits._
    val ks: Seq[Long] = (1L to 5000L) ++
      Seq(65535L, 65536L, 1000003L, (1L << 40) - 1, (1L << 40), 1234567890123L)
    val got = ks.toDF("k")
      .select(col("k"), TextFunctions.detLn(col("k")).as("lnk"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ks.foreach { k =>
      val want = math.log(k.toDouble)
      val tol = math.max(1e-14 * math.abs(want), 1e-15)
      assert(math.abs(got(k) - want) <= tol,
        s"detLn($k)=${got(k)} vs math.log=$want")
    }
    assert(got(1L) === 0.0)
  }

  test("detLnSql renders the identical computation: SQL == Column, bit-exact") {
    import spark.implicits._
    val ks: Seq[Long] = (1L to 2000L) ++ Seq(65536L, 999983L, (1L << 45) + 12345L)
    ks.toDF("k").createOrReplaceTempView("detln_in")
    // the oracle-side SQL text executed BY SPARK must reproduce the
    // Column form to the last bit — op order and literals are shared by
    // construction, this guards against the two renderers drifting
    val viaSql = spark.sql(
        s"SELECT k, ${TextFunctions.detLnSql("k")} AS lnk FROM detln_in")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaCol = ks.toDF("k")
      .select(col("k"), TextFunctions.detLn(col("k")).as("lnk"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ks.foreach { k =>
      assert(java.lang.Double.doubleToLongBits(viaSql(k)) ===
        java.lang.Double.doubleToLongBits(viaCol(k)),
        s"detLnSql($k)=${viaSql(k)} != detLn($k)=${viaCol(k)}")
      // and the driver-side port stays bit-identical too, so in-memory
      // test references can share the engine's exact arithmetic
      assert(java.lang.Double.doubleToLongBits(TextFunctions.detLnRef(k)) ===
        java.lang.Double.doubleToLongBits(viaCol(k)),
        s"detLnRef($k)=${TextFunctions.detLnRef(k)} != detLn($k)=${viaCol(k)}")
    }
  }

  test("unigramLmScore: integer micro-nats, layout-invariant, sane ordering") {
    val docs = Graft.documents(spark, sf)
    val a = TextFunctions.unigramLmScore(docs, "doc_id", "text")
    val b = TextFunctions.unigramLmScore(docs.repartition(7), "doc_id", "text")
    // exact equality across layouts — the whole point of the long-sum +
    // integer-division arithmetic
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
    val rows = a.collect()
    assert(rows.nonEmpty)
    // every score is a non-negative micro-nat count (cnt ≤ n_total)
    assert(rows.forall(r => r.getLong(2) >= 0L))
    // a doc made entirely of the corpus' most common tokens would score
    // lower than one of rare tokens; proxy: scores are not all equal
    assert(rows.map(_.getLong(2)).distinct.length > 1)
  }

  test("txt_bpe_decode: encode->decode reproduces the normalized text exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello, World! 42"), (2L, "a__b  ...  c"), (3L, "MERGE merge MeRgE"),
      (4L, "!!!"), (5L, "tab\tand\nnewline")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("bpe_dec_docs")
    val model = functions.Bpe.train(docs, "text", nMerges = 16)
    val vocabArr = org.apache.spark.sql.functions.array(
      functions.Bpe.vocabIds(model).sortBy(_._2).map(t => org.apache.spark.sql.functions.lit(t._1)): _*)
    val out = docs.select(col("doc_id"),
        concat_ws("", transform(functions.Bpe.encodeBpe(col("text"), model),
          id => element_at(vocabArr, id + 1))).as("decoded"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = Map(
      1L -> "helloworld42", 2L -> "a__bc", 3L -> "mergemergemerge",
      4L -> "", 5L -> "tabandnewline")
    assert(out === expect)
  }

  test("bm25: matches the classic Okapi formula and is layout-invariant") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark merge the table scan"), (2L, "merge merge merge dup"),
      (3L, "vector dup window"), (4L, "the a key"), (5L, "spark spark merge vector vector vector"))
    val terms = Seq("dup", "spark", "merge", "vector")
    val got = TextFunctions.bm25(docs.toDF("doc_id", "text"), "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // independent reference: plain-Scala classic BM25 (k1=1.2, b=0.75,
    // libm log on the 0.5-smoothed idf) with per-term micro floors.
    // libm vs detLn differ only in the last ulp, so per-term micro
    // contributions can shift by at most 1 at a floor boundary.
    val toks = docs.map { case (id, t) => id -> t.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq }
    val n = toks.size.toLong
    val tot = toks.map(_._2.size.toLong).sum
    val avgdl = tot.toDouble / n
    def df(t: String) = toks.count(_._2.contains(t)).toLong
    toks.foreach { case (id, ts) =>
      val dl = ts.size.toDouble
      val contribs = terms.flatMap { t =>
        val tf = ts.count(_ == t).toDouble
        if (tf == 0) None
        else {
          val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5))
          val sat = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
          Some(math.floor(idf * sat * 1e6).toLong)
        }
      }
      if (contribs.isEmpty) assert(!got.contains(id), s"doc $id should have no row")
      else {
        val (nHit, micro) = got(id)
        assert(nHit === contribs.size, s"doc $id n_hit")
        assert(math.abs(micro - contribs.sum) <= contribs.size,
          s"doc $id: got $micro, reference ${contribs.sum}")
      }
    }
    // dup is rare (df=2 of 5) -> positive idf; merge is common in 3 of 5
    assert(got(3)._2 > 0, "rare-term doc must score positive")
    // exact layout invariance on the corpus (the certification property)
    val corpus = Graft.documents(spark, sf)
    val a = TextFunctions.bm25(corpus, "doc_id", "text", terms)
    val b = TextFunctions.bm25(corpus.repartition(7), "doc_id", "text", terms)
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }

  test("q_hybrid_retrieval: RRF fuses the two certified rankings exactly") {
    val out = graft.queries.PipelineQueries.all("q_hybrid_retrieval")(spark, sf).collect()
    assert(out.length >= 20 && out.length <= 40, s"20-40 fused rows, got ${out.length}")
    out.foreach { r =>
      val lex = if (r.isNullAt(1)) None else Some(r.getInt(1))
      val sem = if (r.isNullAt(2)) None else Some(r.getInt(2))
      assert(lex.isDefined || sem.isDefined, "a fused row must come from some list")
      val expect = lex.map(k => 1000000L / (60 + k)).getOrElse(0L) +
        sem.map(k => 1000000L / (60 + k)).getOrElse(0L)
      assert(r.getLong(3) === expect, s"rrf mismatch on doc ${r.getLong(0)}")
    }
    // both lists contribute their full top-20 (ranks are a permutation)
    assert(out.filter(!_.isNullAt(1)).map(_.getInt(1)).sorted.toSeq === (1 to 20))
    assert(out.filter(!_.isNullAt(2)).map(_.getInt(2)).sorted.toSeq === (1 to 20))
  }

  test("bigramLmScore matches an in-memory reference; repetition scores near zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"), (2L, "the cat the cat the cat"),
      (3L, "dog"), (4L, "rare pair here"))
    val got = TextFunctions.bigramLmScore(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains(3L), "single-token doc emits no row")
    // reference: same arithmetic in plain Scala via detLnRef
    val toks = docs.map { case (id, t) => id -> t.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq }
    val bigrams = toks.flatMap { case (id, ts) => ts.zip(ts.drop(1)).map(b => (id, b)) }
    val c2 = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    def wMicro(b: (String, String)): Long =
      math.floor((TextFunctions.detLnRef(c1(b._1)) - TextFunctions.detLnRef(c2(b))) * 1e6).toLong
    toks.filter(_._2.size >= 2).foreach { case (id, ts) =>
      val bs = ts.zip(ts.drop(1))
      val expect = (bs.map(wMicro).sum / bs.size, bs.size.toLong)
      assert(got(id) === ((expect._2, expect._1)), s"doc $id: got ${got(id)}, want $expect")
    }
    // doc 2 is one repeated loop: "the cat" and "cat the" dominate their
    // left contexts, so its mean surprisal is far below doc 1's
    assert(got(2L)._2 < got(1L)._2, "repetition must score low conditional surprisal")
    // layout invariance on the corpus
    val corpus = Graft.documents(spark, sf)
    val a = TextFunctions.bigramLmScore(corpus, "doc_id", "text")
    val b = TextFunctions.bigramLmScore(corpus.repartition(7), "doc_id", "text")
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }

  test("unigramLmScore matches an in-memory reference on a known corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the dog sat"), (3L, "the the the"), (4L, "rare unique tokens"))
    val got = TextFunctions.unigramLmScore(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // reference: same math in plain Scala (tokens = lowercase \W+ split).
    // The per-term weight uses the engine's SPLIT form
    // floor((detLn(N) − detLn(cnt))·1e6) via the driver-side detLnRef
    // port — a libm-log reference (floor(log(N/cnt)·1e6)) differs in the
    // last ulp and can land on the other side of a micro-nat boundary.
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq }
    val cnt = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTotal = cnt.values.sum
    def w(term: String): Long =
      math.floor((TextFunctions.detLnRef(nTotal) - TextFunctions.detLnRef(cnt(term))) * 1e6).toLong
    toks.foreach { case (id, ts) =>
      val nTok = ts.size.toLong
      val expect = ts.map(w).sum / nTok
      assert(got(id) === ((nTok, expect)),
        s"doc $id: got ${got(id)}, want ($nTok, $expect)")
    }
    // ordering sanity: all-common-token doc scores lower surprisal than
    // the all-rare-token doc
    assert(got(3L)._2 < got(4L)._2)
  }

  test("dsirWeights matches an in-memory reference and is layout-invariant") {
    import spark.implicits._
    val rawRows = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "stocks fell sharply"),
      (3L, "the cat sat"),
      (4L, ""),
      (5L, "sat cat the"))
    val tgtRows = Seq((100L, "the cat sat on a mat"), (101L, "a cat sat"))
    val raw = rawRows.toDF("doc_id", "text")
    val target = tgtRows.toDF("doc_id", "text")
    val B = 4096
    val got = TextFunctions.dsirWeights(raw, target, "doc_id", "text", buckets = B)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // layout invariance — exact long equality across partitionings
    val got7 = TextFunctions.dsirWeights(raw.repartition(7), target.repartition(3),
        "doc_id", "text", buckets = B)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === got7)

    // reference: gram-bucket ids come from Spark's own xxhash64 (hash
    // parity is MinHashOracleSql's proven territory); counts and the
    // micro-nat quantization replay in plain Scala via detLnRef
    def grams(t: String): Seq[String] = {
      val ts = t.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq
      ts ++ ts.zip(ts.drop(1)).map { case (a, b) => s"$a $b" }
    }
    val rawG = rawRows.map { case (id, t) => id -> grams(t) }
    val tgtG = tgtRows.map { case (id, t) => id -> grams(t) }
    val distinctGrams = (rawG ++ tgtG).flatMap(_._2).distinct
    val bkt: Map[String, Long] = distinctGrams.toDF("gram")
      .select(col("gram"), pmod(xxhash64(col("gram")), lit(B.toLong)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def q6(k: Long): Long = math.floor(TextFunctions.detLnRef(k) * 1e6).toLong
    val cr = rawG.flatMap(_._2).groupBy(bkt).view.mapValues(_.size.toLong).toMap
    val ct = tgtG.flatMap(_._2).groupBy(bkt).view.mapValues(_.size.toLong).toMap
    val const = q6(cr.values.sum + B) - q6(ct.values.sum + B)
    def lam(b: Long): Long = q6(ct.getOrElse(b, 0L) + 1L) - q6(cr.getOrElse(b, 0L) + 1L)
    rawG.foreach { case (id, gs) =>
      val expect = (gs.size.toLong, gs.map(g => lam(bkt(g))).sum + gs.size * const)
      assert(got(id) === expect, s"doc $id: got ${got(id)}, want $expect")
    }
    // gram-less doc scores (0, 0); a target-like doc outranks a
    // disjoint-token doc of equal gram count (3 "the cat sat" vs 2
    // "stocks fell sharply" — both 5 grams)
    assert(got(4L) === ((0L, 0L)))
    assert(got(3L)._1 === got(2L)._1 && got(3L)._2 > got(2L)._2)
    // bigram sensitivity: same unigrams, different order (5 vs 3) must
    // land in different bigram buckets and so score differently
    assert(got(5L)._2 !== got(3L)._2)
  }

  test("weightedSampleScore: deterministic, layout-stable, weights shift the draw") {
    import spark.implicits._
    val docs = Graft.documents(spark, sf)
    val w = when(col("lang") === "en", lit(4)).otherwise(lit(1))
    def sample(d: org.apache.spark.sql.DataFrame,
               weight: org.apache.spark.sql.Column) = d
      .select(col("doc_id"), col("lang"),
        TextFunctions.weightedSampleScore(col("doc_id"), weight).as("_sc"))
      .orderBy(col("_sc"), col("doc_id")).limit(100)
      .select("doc_id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    val a = sample(docs, w)
    val b = sample(docs.repartition(7), w)
    assert(a.toSeq === b.toSeq, "draw must not depend on layout")
    assert(a.length === 100, "exactly N")
    // weighting monotonicity: en at weight 4 takes a larger share than
    // at weight 1 (both draws deterministic on the same hash stream)
    val uniform = sample(docs, lit(1))
    val enW = a.count(_._2 == "en")
    val enU = uniform.count(_._2 == "en")
    assert(enW > enU, s"weight-4 en share ($enW) must exceed uniform ($enU)")
    // stability under corpus growth: rows sampled from the original
    // corpus keep their scores when new rows arrive (a new doc can push
    // others out only by ranking ahead, never by changing their keys)
    val scores1 = docs.select(col("doc_id"),
        TextFunctions.weightedSampleScore(col("doc_id"), w).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val grown = docs.unionByName(docs.limit(5)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    val scores2 = grown.select(col("doc_id"),
        TextFunctions.weightedSampleScore(col("doc_id"), w).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    scores1.foreach { case (id, s) => assert(scores2(id) === s) }
  }

  test("tokenDiversity: known distributions, agrees with entropy's ordering") {
    import spark.implicits._
    val out = Seq(
      ("uniform2", "aa bb aa bb"),          // 1 - 2·(1/2)² = 0.5
      ("uniform4", "aa bb cc dd"),          // 1 - 4·(1/4)² = 0.75
      ("constant", "aa aa aa aa"),          // 1 - 1 = 0
      ("empty", ""))
      .toDF("k", "t")
      .select(col("k"), TextFunctions.tokenDiversity(col("t")).as("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("uniform2") === 0.5, out.toString)
    assert(out("uniform4") === 0.75, out.toString)
    assert(out("constant") === 0.0)
    assert(out("empty") === 0.0)
  }

  test("resize2d keeps every stride-th row and column of the raster") {
    import spark.implicits._
    // 3 rows of width 4: "abcd" / "efgh" / "ijkl" (+ partial tail dropped)
    val assets = graft.multimodal.Multimodal.toAssets(
      Seq((1L, "abcdefghijklmn"), (2L, "xy")).toDF("doc_id", "text"), "doc_id", "text")
    val out = graft.multimodal.Multimodal.resize2d(assets, rowWidth = 4, stride = 2)
      .collect().map(r => r.getLong(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    // rows 0,2 and cols 0,2 → positions 0,2,8,10 → "acik"
    assert(out(1L) === "acik", out.toString)
    assert(out(2L) === "", "payload shorter than one row resizes to empty")
  }

  test("resize2d preserves non-ASCII payload bytes exactly (binary contract)") {
    import spark.implicits._
    // 2 rows of width 2 spanning the whole byte range, incl. UTF-8
    // continuation bytes that a string cast would collapse to U+FFFD
    val payload = Array(0x00, 0x80, 0xFF, 0x41).map(_.toByte)
    val assets = Seq((1L, payload)).toDF("asset_id", "payload")
    val out = graft.multimodal.Multimodal.resize2d(assets, rowWidth = 2, stride = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // stride 2 over a 2x2 raster keeps row 0, col 0 → position 0 → 0x00
    assert(out(1L).toSeq === Seq(0x00.toByte), out(1L).map(b => f"${b & 0xff}%02x").mkString(","))
    val out1 = graft.multimodal.Multimodal.resize2d(assets, rowWidth = 2, stride = 1)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(out1(1L).toSeq === payload.toSeq,
      "stride 1 must round-trip every byte value exactly: " +
        out1(1L).map(b => f"${b & 0xff}%02x").mkString(","))
  }

  test("native nfc_normalize equals java.text.Normalizer on edges and planted corpus") {
    import spark.implicits._
    import graft.functions.NfcNormalize
    import org.apache.spark.unsafe.types.UTF8String
    // unit-level: composition cases + the reallocation-free fast path
    def ref(s: String): String =
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    for (s <- Seq("", "ascii only", "café", "à la", "naïve",
        "already é composed", "\u0301leading mark",
        "stack é̈", "hangul 각")) {
      assert(NfcNormalize.compute(UTF8String.fromString(s)).toString === ref(s), s"case '$s'")
    }
    // fast path: an already-NFC input returns the SAME buffer (no realloc)
    val clean = UTF8String.fromString("plain ascii text")
    assert(NfcNormalize.compute(clean) eq clean, "isNormalized fast path must not copy")
    // corpus-level: kernel through real codegen == direct normalizer
    val planted = Graft.documents(spark, sf)
      .select(concat(col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(" é")).otherwise(lit(" ô"))).as("t"))
    val diff = planted
      .select(col("t"), call_function("nfc_normalize", col("t")).as("native"))
      .as[(String, String)].collect()
      .filter { case (t, native) => native != ref(t) }
    assert(diff.isEmpty, diff.take(3).mkString("; "))
  }

  test("textImageScore: single-scan path equals the compositional join path") {
    import spark.implicits._
    val docs = Graft.documents(spark, sf)
    // compositional reference: the independently-certified image path
    // (syntheticPngAssets -> imageDHash) joined back to the text — the
    // single-scan mapPartitions in the query entry must be bit-equal
    val viaJoin = graft.multimodal.Multimodal.textImageScore(
      docs.select(col("doc_id"), col("text"))
        .join(graft.multimodal.Multimodal.imageDHash(
            graft.multimodal.Multimodal.syntheticPngAssets(docs))
          .withColumnRenamed("asset_id", "doc_id"), Seq("doc_id")))
    val viaScan = graft.queries.PipelineQueries.all("mm_text_image_score")(spark, sf)
    val a = viaScan.orderBy("doc_id").collect().map(_.toSeq)
    val b = viaJoin.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.length === b.length && a.length > 0)
    assert(a.zip(b).forall { case (x, y) => x == y },
      a.zip(b).filter { case (x, y) => x != y }.take(3).mkString("; "))
    // native single-pass kernel == Column-HOF tower form, bit-exact
    // (the kernel tokenizes once; the Column form walks the token-hash
    // array once per dimension — same frozen arithmetic)
    val paired = docs
      .join(graft.multimodal.Multimodal.imageDHash(
          graft.multimodal.Multimodal.syntheticPngAssets(docs))
        .withColumnRenamed("asset_id", "doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("dhash_hi"), col("dhash_lo"))
    val viaColumns = ColumnForms.textImageScoreColumnForm(paired)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(b.zip(viaColumns).forall { case (x, y) => x == y },
      b.zip(viaColumns).filter { case (x, y) => x != y }.take(3).mkString("; "))
    // tower-bound sanity: |score| <= dim * 1000*n_tokens * 64000
    val viol = viaScan.where(
      abs(col("score")) > lit(8L) * lit(64000L) * lit(1000L) * col("n_tokens")).count()
    assert(viol === 0, "score outside the documented integer bound")
  }

  test("native nfkc_casefold folds compatibility forms, case and superscripts") {
    import spark.implicits._
    import graft.functions.NfkcCasefold
    import org.apache.spark.unsafe.types.UTF8String
    def k(s: String): String = NfkcCasefold.compute(UTF8String.fromString(s)).toString
    // the two planted dd_exact_nfkc suffix spellings MUST land on the
    // exact constant the DuckDB oracle substitutes — this equality IS
    // the oracle's missing-NFKC leg (the exact-columns device)
    assert(k(" ﬁle abc 25") === " file abc 25", "ligature spelling")
    assert(k(" FILE ＡＢＣ ²⁵") === " file abc 25",
      "case+fullwidth+superscript spelling")
    // individual transform classes
    assert(k("ＷＩＤＥ") === "wide", "fullwidth + fold")
    assert(k("ﬀﬁﬂ") === "fffifl", "latin ligatures")
    assert(k("x²+y³") === "x2+y3", "superscripts")
    assert(k("½") === "1⁄2", "vulgar fraction to digits + fraction slash")
    assert(k("ÉCOLE") === "école", "non-ASCII case fold stays composed (NFKC re-pass)")
    assert(k("café") === "café", "NFKC also composes canonical sequences")
    assert(k("ß") === "ß", "simple fold keeps sharp s (full fold out of scope)")
    assert(k("") === "")
    // fast path: ASCII with no uppercase returns the SAME buffer
    val clean = UTF8String.fromString("plain ascii text 123")
    assert(NfkcCasefold.compute(clean) eq clean, "ASCII-lower fast path must not copy")
    // uppercase ASCII must NOT take the fast path
    assert(k("Mixed Case ASCII") === "mixed case ascii")
    // corpus-level: kernel through real codegen == JDK reference chain
    def ref(s: String): String = {
      val n = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < n.length) {
        val cp = n.codePointAt(i)
        sb.appendCodePoint(Character.toLowerCase(Character.toUpperCase(cp)))
        i += Character.charCount(cp)
      }
      java.text.Normalizer.normalize(sb.toString, java.text.Normalizer.Form.NFKC)
    }
    val planted = Graft.documents(spark, sf)
      .select(concat(col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(" Ｗ²")).otherwise(lit(" ﬁX"))).as("t"))
    val diff = planted
      .select(col("t"), call_function("nfkc_casefold", col("t")).as("native"))
      .as[(String, String)].collect()
      .filter { case (t, native) => native != ref(t) }
    assert(diff.isEmpty, diff.take(3).mkString("; "))
    // ASCII body + folded suffix == lower(body) || constant — the exact
    // identity the DuckDB oracle relies on
    val bodyCheck = Graft.documents(spark, sf)
      .select(col("text"),
        call_function("nfkc_casefold", concat(col("text"), lit(" ﬁle abc 25"))).as("native"))
      .as[(String, String)].collect()
      .filter { case (t, native) => native != t.toLowerCase(java.util.Locale.ROOT) + " file abc 25" }
    assert(bodyCheck.isEmpty, bodyCheck.take(3).mkString("; "))
  }

  test("native canonical_url equals the regex-chain form on edges and corpus") {
    import spark.implicits._
    val edges = Seq(
      "", "foo", "https://", "a://b", "?utm_a=1", "https:///path",
      "HTTPS://Example.COM:443/a/?utm_source=x#top",
      "http://H.io:80/p", "http://h.io:443/p", "ftp://X.Y:443/Z/?#f",
      "https://h.io/p?utm_a=1&id=2&utm_b=3&q=4",
      "https://h.io/p?utm_a=1&utm_b=2",
      "https://h.io/p?utm_source2=x",  // digit in name: regex does NOT match
      "https://h.io/p?utm_=1",         // empty name: no match either
      "https://h.io/??&x", "https://h.io//?q", "https://h.io/p?a=1&&b=2#x",
      "HtTpS://MiXeD.CaSe:443:443/Q?utm_x=&utm_y=2&z=3&")
    val corpus = Graft.documents(spark, sf)
      .select(concat(lit("HTTPS://Example"), pmod(col("doc_id"), lit(7)),
        lit(".COM:443/Path"), pmod(col("doc_id"), lit(50)), lit("/"),
        lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(25)),
        lit("&utm_campaign=x#sec"), pmod(col("doc_id"), lit(3))).as("u"))
    val all = edges.toDF("u").unionByName(corpus)
    val diff = all.select(col("u"),
        ColumnForms.canonicalUrl(col("u")).as("chain"),
        call_function("canonical_url", col("u")).as("native"))
      .where(col("chain") =!= col("native"))
      .collect()
    assert(diff.isEmpty,
      diff.take(5).map(r => s"'${r.getString(0)}': chain='${r.getString(1)}' native='${r.getString(2)}'").mkString("; "))
  }

  test("canonicalUrl: case, port, tracking-param, fragment, slash policy") {
    import spark.implicits._
    val cases = Seq(
      // same page, four crawled spellings → one canonical form
      "HTTPS://Example.COM:443/a/?utm_source=x#top" -> "https://example.com/a",
      "https://example.com/a"                        -> "https://example.com/a",
      "https://EXAMPLE.com/a/"                       -> "https://example.com/a",
      "https://example.com:443/a?utm_campaign=z"     -> "https://example.com/a",
      // non-default port survives; http strips :80 not :443
      "http://h.io:8080/p"                           -> "http://h.io:8080/p",
      "http://H.io:80/p"                             -> "http://h.io/p",
      "http://h.io:443/p"                            -> "http://h.io:443/p",
      // utm removal repairs separators; real params survive in order
      "https://h.io/p?utm_a=1&id=2&utm_b=3&q=4"      -> "https://h.io/p?id=2&q=4",
      "https://h.io/p?utm_a=1&utm_b=2"               -> "https://h.io/p",
      // path case is preserved (only scheme+host fold)
      "https://h.io/CaseSensitive/Path"              -> "https://h.io/CaseSensitive/Path")
    val out = cases.map(_._1).toDF("u")
      .select(col("u"), ColumnForms.canonicalUrl(col("u")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(out(in) === want, s"for $in") }
  }

  test("interleave: round-robin order, parallel-layout invariant") {
    import spark.implicits._
    val rows = (0L until 300L).map(i => (i, Seq("a", "b", "c")(i.toInt % 3)))
    val df = rows.toDF("id", "s")
    val out = TextFunctions.interleave(df, "id", "s")
    val got = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // total order: positions are distinct; stratum index = pos mod K
    assert(got.map(_._3).distinct.length === got.length)
    val idx = Map("a" -> 0L, "b" -> 1L, "c" -> 2L)
    got.foreach { case (_, s, p) => assert(p % 3 === idx(s), s"pos $p stratum $s") }
    // within a stratum, positions are the consecutive residue-class values
    got.groupBy(_._2).foreach { case (s, g) =>
      assert(g.map(_._3).sorted.toSeq === (0 until g.length).map(r => r * 3L + idx(s)))
    }
    // layout-invariant: repartitioned input, identical rows
    val again = TextFunctions.interleave(df.repartition(7), "id", "s")
    assert(out.except(again).count() === 0 && again.except(out).count() === 0)
  }

  test("hll overlap estimate tracks the exact audience intersection") {
    val out = queries.PipelineQueries.all("sk_hll_overlap")(spark, sf).head()
    val ev = Graft.events(spark, sf).where(col("user_id").isNotNull)
    def users(t: String) =
      ev.where(col("event_type") === t).select("user_id").distinct()
    val exactBoth = users("view").intersect(users("purchase")).count()
    // the query's exact columns ARE the exact counts…
    assert(out.getAs[Long]("n_both") === exactBoth)
    assert(out.getAs[Long]("n_view") === users("view").count())
    assert(out.getAs[Long]("n_purchase") === users("purchase").count())
    // …and the inclusion-exclusion sketch estimate is certified in-bound
    assert(out.getAs[Boolean]("overlap_ok"),
      s"sketch overlap estimate drifted out of bound: $out")
  }

  test("Bpe: hand-checked merges on the classic fixture; greedy apply; layout-invariant") {
    import spark.implicits._
    // classic BPE example: 3 x low + lower + lowest
    val docs = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
    val model = graft.functions.Bpe.train(docs, "text", nMerges = 3)
    // (l,o) ties (o,w) at 5 → lexicographic; then (lo,w) at 5; then (low,e) at 2
    assert(model.merges === Seq(("l", "o"), ("lo", "w"), ("low", "e")))
    // apply: low → 1 subword; lower → [lowe, r] = 2; lowest → [lowe, s, t] = 3
    val counts = Seq((1L, "low"), (2L, "lower"), (3L, "lowest"), (4L, ""), (5L, "!!"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.Bpe.subwordCountBpe(col("text"), model).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 0L, 5L -> 0L))
    // greedy left-to-right: "aaa" under merge (a,a) → [aa, a] = 2, not 1
    val m2 = graft.functions.BpeModel(Seq(("a", "a")))
    val aaa = Seq((1L, "aaa")).toDF("doc_id", "text")
      .select(graft.functions.Bpe.subwordCountBpe(col("text"), m2)).collect()(0).getLong(0)
    assert(aaa === 2L)
    // merges never cross word boundaries
    val ab = graft.functions.BpeModel(Seq(("a", "b")))
    val sep = Seq((1L, "a b ab")).toDF("doc_id", "text")
      .select(graft.functions.Bpe.subwordCountBpe(col("text"), ab)).collect()(0).getLong(0)
    assert(sep === 3L, "a|b stay separate across the space; 'ab' merges to one")
    // training is layout-invariant: same model from a repartitioned corpus
    val corpus = Graft.documents(spark, sf)
    val mA = graft.functions.Bpe.train(corpus, "text", nMerges = 16)
    val mB = graft.functions.Bpe.train(corpus.repartition(7), "text", nMerges = 16)
    assert(mA === mB)
  }

  test("Bpe trie kernel == replace chain on the real corpus, 64 and 1024 merges") {
    val corpus = Graft.documents(spark, sf)
    def mismatches(m: graft.functions.BpeModel) = corpus.select(
        graft.functions.Bpe.subwordCountBpe(col("text"), m).as("k"),
        graft.functions.Bpe.subwordCountChain(col("text"), m).as("c"))
      .where(col("k") =!= col("c")).count()
    val m64 = graft.functions.Bpe.train(corpus, "text", nMerges = 64)
    assert(mismatches(m64) === 0L, "kernel diverged from chain at 64 merges")
    // production size: the regime the trie kernel exists for — trained
    // on the digit-enriched text (txt_bpe_big's device: the 31-word
    // synthetic vocabulary exhausts at ~89 merges, doc-id digit strings
    // supply the long tail)
    val enriched = graft.functions.Bpe.enrichWithIdTokens(corpus)
    val m1k = graft.functions.Bpe.train(enriched, "btext", nMerges = 1024, vocabCap = 2000)
    assert(m1k.merges.length === 1024,
      s"enriched corpus must support 1024 real merges, got ${m1k.merges.length}")
    val mism1k = enriched.select(
        graft.functions.Bpe.subwordCountBpe(col("btext"), m1k).as("k"),
        graft.functions.Bpe.subwordCountChain(col("btext"), m1k).as("c"))
      .where(col("k") =!= col("c")).count()
    assert(mism1k === 0L, "kernel diverged from chain at 1024 merges")
    // the ENCODE kernel holds at production size too (ids, not counts)
    val mismEnc = enriched.select(
        graft.functions.Bpe.encodeBpe(col("btext"), m1k).as("k"),
        graft.functions.Bpe.encodeChain(col("btext"), m1k).as("c"))
      .where(not(col("k") <=> col("c"))).count()
    assert(mismEnc === 0L, "encode kernel diverged from chain at 1024 merges")
  }

  test("Bpe trie kernel == chain for ARBITRARY merge lists (no training invariant)") {
    import spark.implicits._
    // adversarial list a trainer can't produce: "abc" reachable both as
    // ("a","bc") [rank 1] and ("ab","c") [rank 3], with ("x","abc")
    // in between — a min-rank-iterating applier would fire ("x","abc")
    // after the rank-3 merge creates a second "abc"; the chain (and the
    // kernel, which applies candidates in list order) must not
    val tricky = graft.functions.BpeModel(
      Seq(("b", "c"), ("a", "bc"), ("x", "abc"), ("a", "b"), ("ab", "c")))
    val docs = Seq((1L, "xabc abc ab xab c abcabc"), (2L, "xxabc bcbc a"), (3L, ""))
      .toDF("doc_id", "text")
    val out = docs.select(
        graft.functions.Bpe.subwordCountBpe(col("text"), tricky).as("k"),
        graft.functions.Bpe.subwordCountChain(col("text"), tricky).as("c"))
      .collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1),
      s"kernel ${r.getLong(0)} != chain ${r.getLong(1)}"))
  }

  test("BpeEncode kernel == chain witness; ids decode back; count consistency") {
    import spark.implicits._
    // hand example: merges (t,h)(th,e) → vocab th=37, the=38; base ids
    // '0'-'9'=0-9, '_'=10, 'a'-'z'=11-36
    val m = graft.functions.BpeModel(Seq(("t", "h"), ("th", "e")))
    val one = Seq((1L, "The cat_9!")).toDF("doc_id", "text")
      .select(graft.functions.Bpe.encodeBpe(col("text"), m)).collect()(0).getSeq[Int](0)
    assert(one === Seq(38, 13, 11, 30, 10, 9), "the→38, c a t → 13 11 30, _→10, 9→9")
    // kernel == chain on the real corpus under a trained model
    val corpus = Graft.documents(spark, sf)
    val trained = graft.functions.Bpe.train(corpus, "text", nMerges = 64)
    def mismatches(model: graft.functions.BpeModel, df: org.apache.spark.sql.DataFrame) =
      df.select(
          graft.functions.Bpe.encodeBpe(col("text"), model).as("k"),
          graft.functions.Bpe.encodeChain(col("text"), model).as("c"))
        .where(not(col("k") <=> col("c"))).count()
    assert(mismatches(trained, corpus) === 0L, "encode kernel diverged from chain on corpus")
    // and under the adversarial shared-product list (th fires via BOTH
    // ("a","bc") and ("ab","c") → one string-keyed id)
    val tricky = graft.functions.BpeModel(
      Seq(("b", "c"), ("a", "bc"), ("x", "abc"), ("a", "b"), ("ab", "c")))
    val docs = Seq((1L, "xabc abc ab xab c abcabc"), (2L, "xxabc bcbc a"), (3L, ""))
      .toDF("doc_id", "text")
    assert(mismatches(tricky, docs) === 0L, "encode kernel diverged on adversarial merges")
    // token count consistency: |encode| == subwordCountBpe everywhere
    val bad = corpus.select(
        size(graft.functions.Bpe.encodeBpe(col("text"), trained)).cast("long").as("n"),
        graft.functions.Bpe.subwordCountBpe(col("text"), trained).as("c"))
      .where(col("n") =!= col("c")).count()
    assert(bad === 0L, "encode length must equal the subword count")
    // decode round-trip: reversing vocabIds reconstructs the word chars
    val rev = graft.functions.Bpe.vocabIds(trained).map(_.swap).toMap
    val sample = corpus.limit(20).select(col("text"),
        graft.functions.Bpe.encodeBpe(col("text"), trained).as("ids")).collect()
    sample.foreach { r =>
      val wordChars = r.getString(0).toLowerCase.replaceAll("\\W+", "")
      assert(r.getSeq[Int](1).map(rev).mkString === wordChars, "ids must decode to the text")
    }
  }

  test("ctxWindows splits id arrays into exact fixed-size windows, zero exchanges") {
    import spark.implicits._
    // hand case at ctx=4: 10 ids → windows [4,4,2], exact sums/ends
    val df = Seq(
        (1L, Seq(5, 1, 2, 3, 9, 8, 7, 6, 4, 0)),
        (2L, Seq(42)),
        (3L, Seq.empty[Int]),
        (4L, null.asInstanceOf[Seq[Int]])) // null ids → no windows (the
      .toDF("doc_id", "ids")               // legacy size(null) = -1 hazard)
    val out = df.select(col("doc_id"),
        posexplode(graft.functions.Bpe.ctxWindows(col("ids"), 4)).as(Seq("w", "s")))
      .select(col("doc_id"), col("w"), col("s.n_ids"), col("s.ids_sum"),
        col("s.first_id"), col("s.last_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4), r.getInt(5)))
    assert(out.toSet === Set(
      (1L, 0, 4, 11L, 5, 3), (1L, 1, 4, 30L, 9, 6), (1L, 2, 2, 4L, 4, 0),
      (2L, 0, 1, 42L, 42, 42)), "docs 3 (empty) and 4 (null) emit no windows")
    // corpus invariants under the real encode: per-doc window count is
    // ceil(n_tok/128), total n_ids equals the subword count, and the
    // plan carries no exchange (scan-local by construction)
    val corpus = Graft.documents(spark, sf)
    val model = graft.functions.Bpe.train(corpus, "text", nMerges = 64)
    val ids = graft.functions.Bpe.encodeBpe(col("text"), model)
    val win = corpus.select(col("doc_id"),
        graft.functions.Bpe.subwordCountBpe(col("text"), model).as("c"),
        graft.functions.Bpe.ctxWindows(ids, 128).as("w"))
    val bad = win.where(
      (size(col("w")) =!= ceil(col("c").cast("double") / 128).cast("int")) ||
      (aggregate(col("w"), lit(0L), (a, s) => a + s.getField("n_ids")) =!= col("c"))).count()
    assert(bad === 0L, "window count/total must match the subword count")
    val plan = win.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "ctxWindows must stay exchange-free")
  }

  test("Bpe trie kernel == chain for RANDOM merge lists and text (seeded fuzz)") {
    import spark.implicits._
    // the corpus equality tests use TRAINED models and the adversarial
    // test a hand-built list; this fuzzes arbitrary merge lists against
    // random ASCII text including repeats, overlaps and punctuation runs
    val rnd = new scala.util.Random(42)
    def randSym(maxLen: Int): String =
      (1 to (1 + rnd.nextInt(maxLen))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    (0 until 8).foreach { trial =>
      val merges = (0 until (1 + rnd.nextInt(12))).map(_ => (randSym(3), randSym(3)))
      val model = graft.functions.BpeModel(merges)
      val texts = (0 until 150).map { i =>
        val words = (0 until rnd.nextInt(6)).map(_ => randSym(8))
        (i.toLong, words.mkString(Seq(" ", "  ", "! ", ", ")(rnd.nextInt(4))))
      }
      val df = texts.toDF("doc_id", "text")
      val mism = df.select(
          graft.functions.Bpe.subwordCountBpe(col("text"), model).as("k"),
          graft.functions.Bpe.subwordCountChain(col("text"), model).as("c"))
        .where(col("k") =!= col("c")).count()
      assert(mism === 0L, s"trial $trial: kernel != chain for merges $merges")
    }
  }

  test("Bpe incremental trainer == reference loop: real corpus, fuzzed vocabularies, 32k capacity") {
    import graft.functions.Bpe
    val docs = Graft.documents(spark, sf)
    // real corpus vocabulary (the txt_bpe_big draw) at 300 merges
    val base = Bpe.enrichWithIdTokens(docs)
    val wc = base.select(explode(TextFunctions.tokens(col("btext"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(2000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(Bpe.trainLoop(wc, 300) === Bpe.trainLoopReference(wc, 300))
    // exhaustion parity: both stop at the same model when capacity runs out
    assert(Bpe.trainLoop(wc.take(50), 100000) === Bpe.trainLoopReference(wc.take(50), 100000))
    // fuzz: random small vocabularies with colliding counts (the
    // tie-break regime: most counts equal → lexicographic selection
    // dominates, exactly where a lazy-PQ bug would diverge)
    val rnd = new scala.util.Random(7)
    (0 until 10).foreach { trial =>
      val words = (0 until (5 + rnd.nextInt(40))).map { _ =>
        val w = (1 to (1 + rnd.nextInt(10))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
        (w, 1L + rnd.nextInt(3))
      }.distinct.toArray
      val n = 1 + rnd.nextInt(60)
      val f = Bpe.trainLoop(words, n)
      val r = Bpe.trainLoopReference(words, n)
      assert(f === r, s"trial $trial diverged at n=$n: first diff " +
        f.merges.zip(r.merges).find { case (a, b) => a != b })
    }
    // the 32k device: digit-token corpus reaches full production size
    val m32 = Bpe.train(Bpe.digitTokens(docs, 30), "dtext",
      nMerges = 32768, vocabCap = 50000)
    assert(m32.merges.length === 32768)
    // and the digit-token column is parse-stable: k+1 space-separated
    // non-negative integer tokens per doc
    val tok = Bpe.digitTokens(docs, 6).select(col("dtext")).head().getString(0).split(" ")
    assert(tok.length === 7 && tok.forall(t => t.nonEmpty && t.forall(_.isDigit)))
  }

  test("Codec: golden BMP/WAV headers, round trips, chunk walk, malformed-input safety") {
    import graft.multimodal.Multimodal.Codec
    // golden BMP 2x1 @24bpp: row = 6 bytes + 2 pad; 54-byte header
    val b = Codec.bmp(2, 1, i => i.toByte)
    assert(b.length === 62)
    assert(b(0) === 'B'.toByte && b(1) === 'M'.toByte)
    assert((b(2) & 0xff) === 62 && b(3) === 0) // file size LE
    assert((b(10) & 0xff) === 54)              // pixel offset
    assert((b(14) & 0xff) === 40)              // biSize
    assert((b(18) & 0xff) === 2 && (b(22) & 0xff) === 1) // width, height
    assert((b(26) & 0xff) === 1 && (b(28) & 0xff) === 24) // planes, bpp
    assert((b(30) & 0xff) === 0)               // BI_RGB
    assert(Codec.decodeBmp(b) === Some(Codec.BmpInfo(2, 1, 24)))
    // golden WAV: 8 kHz mono 16-bit, 4 data bytes = 2 samples
    val w = Codec.wav(8000, 1, 16, Array[Byte](1, 2, 3, 4))
    assert(w.length === 48)
    assert(new String(w, 0, 4, "US-ASCII") === "RIFF")
    assert((w(4) & 0xff) === 40)               // riff size = 36 + 4
    assert(new String(w, 8, 4, "US-ASCII") === "WAVE")
    assert((w(20) & 0xff) === 1)               // PCM
    assert((w(24) & 0xff) === 0x40 && (w(25) & 0xff) === 0x1f) // 8000 LE
    assert((w(28) & 0xff) === 0x80 && (w(29) & 0xff) === 0x3e) // byte rate 16000
    assert((w(32) & 0xff) === 2 && (w(34) & 0xff) === 16)      // block align, bits
    assert((w(40) & 0xff) === 4)               // data length
    assert(Codec.decodeWav(w) === Some(Codec.WavInfo(1, 8000, 16, 2L)))
    // chunk walk: an unknown odd-sized chunk before fmt must be skipped
    // with RIFF word alignment
    val extra = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0, 9, 9, 9, 0) // 3 bytes + pad
    val spliced = w.take(12) ++ extra ++ w.drop(12)
    // fix the RIFF size for the inserted chunk
    val riffSize = spliced.length - 8
    spliced(4) = (riffSize & 0xff).toByte; spliced(5) = ((riffSize >> 8) & 0xff).toByte
    assert(Codec.decodeWav(spliced) === Some(Codec.WavInfo(1, 8000, 16, 2L)))
    // malformed inputs surface as None, never throw
    assert(Codec.decodeBmp(Array[Byte]('B', 'M', 1)) === None)
    assert(Codec.decodeBmp("nope".getBytes) === None)
    assert(Codec.decodeWav(w.take(30)) === None) // truncated mid-fmt
    assert(Codec.decodeWav("RIFFxxxxNOPE".getBytes) === None)
    val badW = b.clone(); badW(18) = 0 // zero width
    assert(Codec.decodeBmp(badW) === None)
    // crafted RIFF chunk size near Int.MaxValue must not wrap the bound
    // arithmetic (would crash the scan instead of surfacing as None)
    val huge = w.clone()
    huge(16) = 0xff.toByte; huge(17) = 0xff.toByte
    huge(18) = 0xff.toByte; huge(19) = 0x7f.toByte // fmt size = Int.MaxValue
    assert(Codec.decodeWav(huge) === None)
    // BMP height = Int.MinValue survives math.abs unchanged — must reject
    val minH = b.clone()
    minH(22) = 0; minH(23) = 0; minH(24) = 0; minH(25) = 0x80.toByte
    assert(Codec.decodeBmp(minH) === None)
    // ordinary top-down (negative-height) raster still decodes
    val topDown = b.clone()
    topDown(22) = 0xff.toByte; topDown(23) = 0xff.toByte
    topDown(24) = 0xff.toByte; topDown(25) = 0xff.toByte // height = -1
    assert(Codec.decodeBmp(topDown) === Some(Codec.BmpInfo(2, 1, 24)))
  }

  test("mm_decode: both kinds decode ok through the real parsers") {
    val out = graft.queries.PipelineQueries.all("mm_decode")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Boolean]("ok")), "every generated asset must parse")
    val kinds = out.map(_.getAs[String]("kind")).toSet
    assert(kinds === Set("bmp", "wav"), s"both formats must be exercised, got $kinds")
    // spot-check the arithmetic contract on one row of each kind
    out.find(_.getAs[String]("kind") === "wav").foreach { r =>
      val id = r.getAs[Long]("asset_id")
      assert(r.getAs[Int]("sample_rate") === 8000 + 1000 * (id % 5).toInt)
    }
  }

  test("perplexityBuckets: balanced per-lang terciles, head strictly below tail, empty routed") {
    import spark.implicits._
    val out = graft.queries.PipelineQueries.all("txt_ppl_buckets")(spark, sf).collect()
    assert(out.nonEmpty)
    val nonEmpty = out.filter(_.getAs[String]("ppl_bucket") != "empty")
    nonEmpty.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      val n = rows.length
      // a language too small (or tie-collapsed) for three buckets would
      // pass the balance asserts vacuously and then crash .max on an
      // empty head/tail — fail with a diagnostic instead
      assert(n >= 9, s"$lang has only $n scored docs — tercile test needs more")
      def cnt(b: String) = rows.count(_.getAs[String]("ppl_bucket") == b)
      assert(cnt("head") + cnt("middle") + cnt("tail") === n, s"$lang buckets don't partition")
      assert(cnt("head") > 0 && cnt("tail") > 0, s"$lang produced an empty tercile")
      // discrete terciles: each bucket within a couple of rows of n/3
      // (score ties can shift the cut by the tie-group size; the
      // synthetic corpus has near-distinct scores)
      assert(math.abs(cnt("head") - n / 3) <= 2, s"$lang head=${cnt("head")} n=$n")
      assert(math.abs(cnt("tail") - n / 3) <= 2, s"$lang tail=${cnt("tail")} n=$n")
      // the CCNet ordering contract: every head doc scores strictly
      // below every tail doc within its language
      val headMax = rows.filter(_.getAs[String]("ppl_bucket") == "head")
        .map(_.getAs[Long]("avg_nll_micro")).max
      val tailMin = rows.filter(_.getAs[String]("ppl_bucket") == "tail")
        .map(_.getAs[Long]("avg_nll_micro")).min
      assert(headMax < tailMin, s"$lang head max $headMax !< tail min $tailMin")
    }
    // empty bucket: token-less AND null-text docs route there with a
    // null score (size(tokens(null)) is -1/null, never 0 — the r11
    // review's null-text drop)
    val e = Seq((1L, Option("real words here"), "en"), (2L, Option(""), "en"),
      (3L, Option("!!!"), "en"), (4L, Option.empty[String], "en"))
      .toDF("doc_id", "text", "lang")
    val eOut = TextFunctions.perplexityBuckets(e, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(eOut.keySet === Set(1L, 2L, 3L, 4L), "every input doc must surface")
    assert(eOut(2L) === "empty" && eOut(3L) === "empty" && eOut(4L) === "empty")
    assert(eOut(1L) !== "empty")
  }

  test("r12 guards (ADVICE r11): null-lang bucket, BMP compression/truncation, enrich overflow") {
    import spark.implicits._
    // 1. NULL-lang docs with tokens route to the explicit 'unknown'
    // bucket (never a fall-through 'tail'); token-less null-lang docs
    // still go to 'empty'
    val d = Seq((1L, Option("real words here"), Option("en")),
      (2L, Option("more real words"), Option.empty[String]),
      (3L, Option(""), Option.empty[String]))
      .toDF("doc_id", "text", "lang")
    val out = TextFunctions.perplexityBuckets(d, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(2L) === "unknown", s"null-lang scored doc must be 'unknown', got ${out(2L)}")
    assert(out(3L) === "empty")
    assert(out(1L) != "unknown" && out(1L) != "empty")
    // 2. decodeBmp rejects a compressed (BI_RLE8) header and a raster
    // truncated below the declared size; the full golden still decodes
    import graft.multimodal.Multimodal.Codec
    val good = Codec.bmp(2, 2, i => i.toByte)
    assert(Codec.decodeBmp(good) === Some(Codec.BmpInfo(2, 2, 24)))
    val rle = good.clone(); rle(30) = 1 // BI_RLE8
    assert(Codec.decodeBmp(rle) === None, "compressed BMP must not parse as ok")
    assert(Codec.decodeBmp(good.dropRight(1)) === None, "truncated raster must not parse as ok")
    // 3. enrichWithIdTokens: a replica-offset id (~1e12) must yield the
    // SAME digit token as its mod-p reduction (no Long wrap → no
    // negative tokens), and small ids keep the certified value
    val big = 7L + 3L * 1000000000000L
    val df = Seq((7L, "a"), (big, "a"), (big % 1000000007L, "a")).toDF("doc_id", "text")
    val toks = graft.functions.Bpe.enrichWithIdTokens(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("btext").split(" ").last).toMap
    assert(toks(7L) === ((7L * 2654435761L) % 1000000007L).toString)
    assert(!toks(big).startsWith("-"), s"offset id wrapped negative: ${toks(big)}")
    assert(toks(big) === toks(big % 1000000007L), "offset id must hash as its mod-p reduction")
  }

  test("r11 guards: sketch sizing, snapshotDelta keyed contract, dsir null ids, auto-session hint") {
    import spark.implicits._
    // mis-sized heavy-hitter sketch fails at construction (the
    // surfaced/est_in_bound guarantees would be legitimately false)
    intercept[IllegalArgumentException] {
      graft.functions.Sketches.heavyHitters(Seq("x").toDF("v"), col("v"),
        thrDenom = 500, maxTracked = 1024)
    }
    intercept[IllegalArgumentException] {
      graft.functions.Sketches.heavyHittersMerge(Seq(("g", "s", "x")).toDF("g", "s", "v"),
        "g", col("s"), col("v"), thrDenom = 500, maxTracked = 1024)
    }
    // a duplicate id in a snapshot fails loudly instead of fanning out
    // inflated delta rows through the full-outer join
    val dup = Seq((1L, "a"), (1L, "b")).toDF("doc_id", "text")
    val ok = Seq((1L, "a")).toDF("doc_id", "text")
    val ex = intercept[Throwable] {
      graft.dedup.Dedup.snapshotDelta(dup, ok, "doc_id", "text").collect()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("duplicate id")), msgs(ex).mkString(" | "))
    // keyed snapshots still work
    assert(graft.dedup.Dedup.snapshotDelta(ok, Seq((1L, "b")).toDF("doc_id", "text"),
      "doc_id", "text").collect().map(_.getString(1)).toSeq === Seq("changed"))
    // null ids bypass the guard: they never fan out through the
    // full-outer join (null keys don't match), so two null-id rows are
    // each their own removed row, not a "duplicate"
    val withNulls = Seq((Option(1L), "a"), (Option.empty[Long], "n1"),
      (Option.empty[Long], "n2")).toDF("doc_id", "text")
    val delta = graft.dedup.Dedup.snapshotDelta(
      withNulls, Seq((1L, "a")).toDF("doc_id", "text"), "doc_id", "text").collect()
    assert(delta.count(_.getString(1) == "removed") === 2)
    // a null-id raw row must not produce a (null, 0, n*const) output row
    val rawN = Seq((Option(1L), "the cat"), (Option.empty[Long], "ghost doc"))
      .toDF("doc_id", "text")
    val tgt = Seq((100L, "the cat")).toDF("doc_id", "text")
    val outN = TextFunctions.dsirWeights(rawN, tgt, "doc_id", "text")
    assert(outN.where(col("doc").isNull).count() === 0L)
    assert(outN.count() === 1L)
    // the density hint skips the probe and dispatches identically
    val ev = Seq((1000000L, "k"), (2000000L, "k")).toDF("ts_us", "key")
    val a = graft.operators.Windows
      .sessionCountAuto(ev, "ts_us", "10 seconds", Some(5L), col("key")).collect()
    val b = graft.operators.Windows
      .sessionCountAuto(ev, "ts_us", "10 seconds", col("key")).collect()
    assert(a === b)
  }

  test("quantizeInt8: hand-checked codes, bounds, zero vector, high fidelity") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = df.select(col("vec_id"),
        graft.functions.VectorFunctions.quantizeInt8(col("embedding")).as("q"))
      .select(col("vec_id"), col("q.scale"), col("q.codes"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2))).toMap
    // scale = max|x|/127; codes = round(x/s): 63.5 rounds HALF_UP to 64
    assert(q(1L)._1 === 2.0 / 127.0)
    assert(q(1L)._2 === Seq(64, -127, 32))
    assert(q(2L) === ((0.0, Seq(0, 0, 0))))
    // random vectors: every code in [-127, 127], reconstruction cosine
    // ≥ 0.999 (the int8 codec's fidelity envelope at dim 64)
    val rnd = new scala.util.Random(3)
    val big = (0 until 50).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val vf = graft.functions.VectorFunctions
    val rows = big.select(
        vf.quantizeInt8(col("embedding")).as("q"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("q.codes"),
        ColumnForms.cosine(col("v"),
          vf.dequantizeInt8(col("q"))).as("fid"))
      .collect()
    assert(rows.forall(_.getSeq[Int](0).forall(c => c >= -127 && c <= 127)))
    assert(rows.forall(_.getDouble(1) >= 0.999))
  }

  test("heavyHitters: guarantees hold under eviction pressure, layout-invariant") {
    import spark.implicits._
    // 5000 distinct singleton noise values against maxTracked = 256 —
    // the summary MUST evict constantly — plus two planted heavies far
    // above the a-priori error (3.5·N/256 ≈ 77): the sketch is
    // genuinely approximate here, and the guarantee booleans still must
    // hold for every true heavy hitter
    val rows = Seq.fill(400)("hot_a") ++ Seq.fill(250)("hot_b") ++
      (0 until 5000).map(i => s"noise_$i")
    val df = rows.toDF("v")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.functions.Sketches.heavyHitters(d, col("v"), thrDenom = 50, maxTracked = 256)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3))).toSet
    val got = run(df)
    // exact heavy set at θ = 1/50 (N = 5650, θN = 113): the two planted
    // values only, both surfaced and in-bound
    assert(got === Set(("hot_a", 400L, true, true), ("hot_b", 250L, true, true)))
    // merge order must not change the OUTPUT (raw estimates may shift
    // within the bound — they are deliberately not in the output)
    assert(run(df.repartition(13)) === got)
  }

  test("heavyHittersMerge: shard-merged guarantees hold under eviction, correct shard counts") {
    import spark.implicits._
    // heavies SPREAD ACROSS SHARDS (no single shard sees the full
    // count) + per-stratum distinct noise well past maxTracked = 256:
    // the per-shard summaries evict, the combine must still recover
    // every true per-stratum heavy hitter within the bound
    val rows =
      (0 until 400).map(i => ("g1", s"s${i % 4}", "hot_a")) ++
      (0 until 3000).map(i => ("g1", s"s${i % 4}", s"na_$i")) ++
      (0 until 300).map(i => ("g2", s"s${i % 3}", "hot_b")) ++
      (0 until 2000).map(i => ("g2", s"s${i % 3}", s"nb_$i"))
    val df = rows.toDF("g", "shard", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.functions.Sketches.heavyHittersMerge(d, "g", col("shard"), col("v"),
          thrDenom = 50, maxTracked = 256)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toSet
    val got = run(df)
    // θ = 1/50: g1 N = 3400 → θN = 68 (only hot_a); g2 N = 2300 → 46
    assert(got === Set(("g1", "hot_a", 400L, 4L, true, true),
                       ("g2", "hot_b", 300L, 3L, true, true)))
    assert(run(df.repartition(11)) === got)
  }

  test("hllMergeDistinct: shard-union == single-shot sketch, near exact") {
    import spark.implicits._
    val n = 5000L
    // ~n/2 distinct values, 2 strata; i%2 and i%20 are correlated, so each
    // stratum sees the 10 shards of its parity class
    val df = (0L until n).map(i => (s"g${i % 2}", i % 20, s"v${(i * 7919L) % (n / 2)}"))
      .toDF("g", "shard", "v")
    val merged = graft.functions.Sketches.hllMergeDistinct(df, "g", col("shard"), "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val single = df.groupBy("g")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("v"), lit(12))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = df.groupBy("g").agg(countDistinct("v").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    merged.foreach { case (g, (shards, est)) =>
      assert(shards === 10L)
      // the union path and the single-shot path may transition
      // sparse→dense at different points, so estimates are close but not
      // bit-identical — both sit within the sketch's error envelope
      val drift = math.abs(est.toDouble - single(g)) / single(g)
      assert(drift < 0.03, s"union vs single-shot drift for $g: $est vs ${single(g)}")
      // HLL lgK=12 has ~1.6% relative standard error; allow 5%
      val rel = math.abs(est.toDouble - exact(g)) / exact(g)
      assert(rel < 0.05, s"$g: est $est vs exact ${exact(g)}")
    }
  }

  test("sessionCountGaps equals the built-in session_window form on the corpus") {
    import graft.operators.Windows
    val ev = Graft.events(spark, sf)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "session_start_us", "cnt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val builtin = norm(Windows.sessionCount(ev, "ts_us", "1 hour", col("user_id")))
    val gaps = norm(Windows.sessionCountGaps(ev, "ts_us", 3600000000L, col("user_id")))
    assert(builtin.nonEmpty)
    assert(gaps === builtin)
  }

  test("cdc_chunks kernel is bit-equal to the Column fallback over the corpus") {
    import graft.dedup.Dedup
    val docs = Graft.documents(spark, sf)
    assert(spark.catalog.functionExists("cdc_chunks"), "extensions must be loaded")
    def chunksOf(c: org.apache.spark.sql.Column) =
      docs.select(col("doc_id"), c.as("c")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val native = chunksOf(call_function("cdc_chunks", col("text"), lit(8), lit(32)))
    val fallback = chunksOf(ColumnForms.cdcChunksColumns(col("text"), 8, 32))
    assert(native.nonEmpty)
    assert(native === fallback)
    // plus a boundary-shape fixture: empty text and sub-window text are
    // single chunks in both forms
    import spark.implicits._
    val tiny = Seq((1L, ""), (2L, "short")).toDF("doc_id", "text")
    def tinyChunks(c: org.apache.spark.sql.Column) =
      tiny.select(col("doc_id"), c.as("c")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val tn = tinyChunks(call_function("cdc_chunks", col("text"), lit(8), lit(32)))
    assert(tn === tinyChunks(ColumnForms.cdcChunksColumns(col("text"), 8, 32)))
    assert(tn(1L) === Seq("") && tn(2L) === Seq("short"))
  }

  test("sessionCountAuto dispatches by per-key density, results equal either way") {
    import graft.operators.Windows
    import spark.implicits._
    def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.toString
    // sparse corpus (max events/key far below 1e5) → built-in session_window
    val sparse = Seq((1L, 0L), (1L, 5000000L), (2L, 0L)).toDF("user_id", "ts_us")
    val viaSparse = Windows.sessionCountAuto(sparse, "ts_us", "10 seconds", col("user_id"))
    assert(planOf(viaSparse).contains("session_window"),
      "sparse corpus must dispatch to the built-in merge form")
    // dense corpus (one key at the 1e5 crossover) → gaps-and-islands
    val dense = spark.range(100000)
      .select(lit(7L).as("user_id"), (col("id") * 1000L).as("ts_us"))
    val viaDense = Windows.sessionCountAuto(dense, "ts_us", "10 seconds", col("user_id"))
    assert(!planOf(viaDense).contains("session_window") && planOf(viaDense).contains("lag"),
      "dense corpus must dispatch to the gaps form")
    // both dispatch targets agree (the equality the A/B rests on)
    def norm(out: org.apache.spark.sql.DataFrame) =
      out.select("user_id", "session_start_us", "cnt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(norm(viaSparse) ===
      norm(Windows.sessionCountGaps(sparse, "ts_us", 10000000L, col("user_id"))))
  }

  test("sessionCountGaps boundary: events exactly gap apart merge into one session") {
    import graft.operators.Windows
    import spark.implicits._
    // Spark's session_window merges an event landing exactly on the
    // previous window's end (prev + gap) — the corpus can't pin this
    // (exact-microsecond boundary gaps essentially never occur), so use a
    // synthetic fixture: gap = 10s; user 1 has events exactly 10s apart
    // (one session), user 2 has events 10s + 1us apart (two sessions).
    val gapUs = 10000000L
    val df = Seq(
      (1L, 0L), (1L, gapUs), (1L, 2 * gapUs),     // chained exact-gap → 1 session, cnt=3
      (2L, 0L), (2L, gapUs + 1L)                  // strictly over gap → 2 sessions
    ).toDF("user_id", "ts_us")
    def norm(out: org.apache.spark.sql.DataFrame) =
      out.select("user_id", "session_start_us", "cnt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val builtin = norm(Windows.sessionCount(df, "ts_us", "10 seconds", col("user_id")))
    val gaps = norm(Windows.sessionCountGaps(df, "ts_us", gapUs, col("user_id")))
    assert(builtin === Seq((1L, 0L, 3L), (2L, 0L, 1L), (2L, gapUs + 1L, 1L)))
    assert(gaps === builtin)
  }

  test("pp_sft_mask / pp_fim: spans reconstruct the original content exactly") {
    // self-consistency of the r15 training-prep transforms beyond the
    // oracle hash: slicing sft_text at [mask_start, mask_end) must give
    // exactly the assistant half of the source, and a FIM'd doc must
    // reassemble to the original from its spans (PSM order inverted)
    val sf = "/root/testdata/sf0.001"
    val docs = Graft.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    SparkEntry.queries("pp_sft_mask")(spark, sf).collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val sft = r.getAs[String]("sft_text")
      val (ms, me) = (r.getAs[Int]("mask_start"), r.getAs[Int]("mask_end"))
      val text = docs(id)
      assert(sft.substring(ms - 1, me - 1) === text.substring(text.length / 2),
        s"doc $id: mask span must cover exactly the assistant half")
      assert(sft.startsWith("<|user|>" + text.substring(0, text.length / 2)))
      assert(sft.endsWith("<|end|>"))
    }
    SparkEntry.queries("pp_fim")(spark, sf).collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val fim = r.getAs[String]("fim_text")
      val text = docs(id)
      if (!r.getAs[Boolean]("fim_applied")) assert(fim === text)
      else {
        val (p, m, sfx) = (r.getAs[Int]("pre_len"), r.getAs[Int]("mid_len"),
          r.getAs[Int]("suf_len"))
        assert(p + m + sfx === text.length)
        val pre = fim.substring(5, 5 + p)
        val suf = fim.substring(5 + p + 5, 5 + p + 5 + sfx)
        val mid = fim.substring(5 + p + 5 + sfx + 5)
        assert(pre + mid + suf === text,
          s"doc $id: PSM spans must reassemble to the source text")
      }
    }
  }

  test("html_text native kernel == regex chain over the corpus and adversarial edges") {
    import spark.implicits._
    // the synthetic page corpus — the certified path's real input
    val docs = Graft.documents(spark, sf).limit(200)
    val pages = docs.select(concat(
      lit("<html><head><script>var x=1;</script><style>p{}</style></head><body><p>"),
      col("text"), lit("</p></body></html>")).as("html"))
    val corpusDiff = pages.select(
        ColumnForms.htmlText(col("html")).as("a"),
        expr("html_text(html)").as("b"))
      .where(col("a") =!= col("b")).count()
    assert(corpusDiff === 0, "kernel must equal the chain on the corpus")
    // adversarial edges: every divergence class the pass analysis covers
    val edges = Seq(
      "<SCRIPT>if (a<b) {}</SCRIPT>ok",                       // case + '<' in body
      "<script>unterminated",                                  // no close: kept literally
      "<scriptx data=1>longer-name opens too</script>z",       // regex opens on <script[^>]*
      "<script>a</script>mid<script>b</script>",               // non-greedy: two blocks
      "<style>s1<script>inner</script>s2</style>",             // script pass runs FIRST
      "&l<b>t;",                                               // tag becomes SPACE, no entity forms
      "&lt<b>;",                                               // ditto, other split
      "a &amp;lt; b",                                          // double-escape decodes ONE level
      "&amp;amp;",                                             // amp is the LAST pass
      "x<>y",                                                  // <> is not a tag
      "x< y > z",                                              // loose < with later >: IS a tag per <[^>]+>
      "trail<",                                                // dangling <
      "&nbsp;&unknown; &#39;q&#39;",                           // unknown entity kept
      " \t\n\f\r mixed   ws ",                           // \s class exact
      "")
    val edgeDiff = edges.toDF("html").select(
        ColumnForms.htmlText(col("html")).as("a"),
        expr("html_text(html)").as("b"))
      .collect().filter(r => r.getString(0) != r.getString(1))
    assert(edgeDiff.isEmpty,
      edgeDiff.map(r => s"chain='${r.getString(0)}' kernel='${r.getString(1)}'").mkString("; "))
  }

  test("htmlText: script/style drop whole, entities decode once, whitespace collapses") {
    import spark.implicits._
    val cases = Seq(
      // tags strip, core entities decode AFTER tag removal
      ("<p>a &amp; b &lt;kept&gt;</p>", "a & b <kept>"),
      // script/style bodies are dropped WHOLE, not just untagged
      ("<script type=\"x\">var junk = 1;</script>text<style>p {m:0}</style>", "text"),
      // r15 ADVICE: a '<' inside the body, an upper-case tag, and a
      // multi-line body must all still drop whole (case-insensitive
      // dotall non-greedy strip)
      ("<SCRIPT>if (a<b) { x(); }</SCRIPT>ok", "ok"),
      ("<script>\nline1();\nif (i<2) {}\n</script>done<style>a\n{b<c}</style>", "done"),
      // NON-GREEDY: two script blocks must not swallow the text between
      ("<script>a<b</script>mid<script>c<d</script>end", "mid end"),
      // double-escaped entity decodes ONE level (&amp; runs last)
      ("x &amp;lt; y", "x &lt; y"),
      // nbsp becomes a plain space and whitespace collapses + trims
      ("  a&nbsp;&nbsp;b   c  ", "a b c"),
      ("<div><h1>T</h1><p>body &#39;q&#39; &quot;r&quot;</p></div>", "T body 'q' \"r\"")
    ).toDF("html", "want")
    val got = cases.select(
      ColumnForms.htmlText(col("html")).as("got"), col("want"))
      .collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

}
