package graft.queries

/** DuckDB-SQL replay of the MinHash-LSH dedup pipeline, bit-for-bit.
  *
  * Generates the oracle SQL that recomputes — in pure DuckDB, over the
  * same parquet `documents` table — exactly what the Spark side computes
  * with [[graft.dedup.Dedup.minhashPairs]] /
  * [[graft.dedup.Dedup.crossMinhashPairs]] and the `dd_lsh_resolve`
  * composition: tokenize → XXH64 per token → 3-gram running-XXH64
  * shingles → 64 wrapping multiply-add permutation minima (signed-long
  * order) → 16-band signature strings → per-band XXH64 bucket keys →
  * capped bucket self-join → signature-agreement estimate. LSH candidate
  * sets were "hash-specific, rows-only" until this replay; the same
  * HUGEINT-mod-2⁶⁴ device that graduated `txt_rollinghash` scales to the
  * full XXH64 (same seed-42 algorithm as Spark's `xxhash64`, see
  * Spark's `catalyst.expressions.XXH64`): 64-bit wrapping arithmetic in
  * HUGEINT, 32×32-bit split multiplication, rotations as shift-or, and
  * `xor` through UBIGINT. Each hash step is emitted as its own
  * projection layer (nested subselects) because DuckDB expands lateral
  * aliases by substitution — chaining them textually is exponential.
  *
  * Byte-exactness requires ASCII text (the replay reads bytes as
  * `ord(substr(...))` codepoints): the generated SQL guards every
  * document with a loud `error(...)` instead of silently diverging on a
  * future non-ASCII corpus. Tokens themselves are always ASCII — both
  * engines' `\W` is ASCII `[^0-9A-Za-z_]` — so only the raw text guard
  * is needed.
  *
  * Validated stage-by-stage against Spark truth dumps at sf0.001
  * (27,939 token hashes, 500 shingle sets, 500 signatures, 8,000 band
  * hashes, full pair set — zero mismatches) before wiring as oracles.
  */
object MinHashOracleSql {

  private[queries] val M: BigInt   = BigInt(1) << 64
  private[queries] val M32: BigInt = BigInt(1) << 32
  private[queries] val H63: BigInt = BigInt(1) << 63
  private val P1 = BigInt("11400714785074694791")
  private val P2 = BigInt("14029467366897019727")
  private val P3 = BigInt("1609587929392839161")
  private val P4 = BigInt("9650029242287828579")
  private val P5 = BigInt("2870177450012600261")
  private[queries] val Seed = "42::HUGEINT"

  private[queries] val HU = "::HUGEINT"

  /** (a*b) mod 2^64; `b` a constant, split 32/32 so HUGEINT never overflows. */
  private def mulc(a: String, b: BigInt): String = {
    val bl = b.mod(M)
    s"((($a)%$M32$HU)*$bl$HU + (((($a)//$M32$HU)*$bl$HU)%$M32$HU)*$M32$HU) % $M$HU"
  }

  /** (a*b) mod 2^64, both SQL expressions < 2^64. */
  private def mulv(a: String, b: String): String =
    s"((($a)%$M32$HU)*(($b)%$M32$HU) + ((((($a)//$M32$HU)*(($b)%$M32$HU) + " +
      s"(($a)%$M32$HU)*(($b)//$M32$HU))%$M32$HU)*$M32$HU) % $M$HU) % $M$HU"

  private def rot(a: String, r: Int): String =
    s"((($a)*${BigInt(1) << r}$HU + ($a)//${BigInt(1) << (64 - r)}$HU) % $M$HU)"

  private def xor(a: String, b: String): String =
    s"CAST(xor(CAST(($a) AS UBIGINT), CAST(($b) AS UBIGINT)) AS HUGEINT)"

  private def add(a: String, b: String): String = s"((($a) + ($b)) % $M$HU)"

  private def shr(a: String, s: Int): String = s"(($a)//${BigInt(1) << s}$HU)"

  /** XXH64 finalization avalanche. */
  private def fmix(h: String, pfx: String): Seq[(String, String)] = Seq(
    s"${pfx}f1" -> xor(h, shr(h, 33)),
    s"${pfx}f2" -> mulc(s"${pfx}f1", P2),
    s"${pfx}f3" -> xor(s"${pfx}f2", shr(s"${pfx}f2", 29)),
    s"${pfx}f4" -> mulc(s"${pfx}f3", P3),
    s"${pfx}f5" -> xor(s"${pfx}f4", shr(s"${pfx}f4", 32)))

  /** Little-endian word of `nbytes` at 0-based byte-offset expr `o`. */
  private def word(s: String, o: String, nbytes: Int = 8): String =
    (0 until nbytes)
      .map(j => s"ord(substr($s, ($o)+${j + 1}, 1))$HU*${BigInt(1) << (8 * j)}$HU")
      .mkString("(", " + ", ")")

  /** 8-byte word step of the tail loop. */
  private def wordStep(acc: String, x: String): String =
    add(mulc(rot(xor(acc, mulc(rot(mulc(x, P2), 31), P1)), 27), P1), s"$P4$HU")

  /** One lane of the 32-byte stripe loop: v = rot(v + w*P2, 31) * P1. */
  private def stripeRound(v: String, w: String): String =
    mulc(rot(add(v, mulc(w, P2)), 31), P1)

  private def byteStep(acc: String, b: String): String =
    mulc(rot(xor(acc, s"((($b)*$P5$HU) % $M$HU)"), 11), P1)

  private def intStep(acc: String, w4: String): String =
    add(mulc(rot(xor(acc, s"((($w4)*$P1$HU) % $M$HU)"), 23), P2), s"$P3$HU")

  /** Full XXH64 over an ASCII string column (any length: 32-byte stripe
    * accumulators folded as 4-element HUGEINT lists, then 8-byte words,
    * 4-byte chunk, tail bytes, fmix). Result column: `{pfx}f5`. */
  private[queries] def xxh64Str(s: String, seed: String, pfx: String): Seq[(String, String)] = {
    val ln = s"${pfx}ln"
    val init4 = s"[${add(add(seed, s"$P1$HU"), s"$P2$HU")}, ${add(seed, s"$P2$HU")}, " +
      s"($seed)%$M$HU, ${add(seed, s"${M - P1}$HU")}]"
    val stripes = s"list_transform(generate_series(0, $ln//32 - 1), " +
      s"st -> [${word(s, "st*32")}, ${word(s, "st*32+8")}, ${word(s, "st*32+16")}, ${word(s, "st*32+24")}])"
    val sfold = s"list_reduce(list_prepend($init4, $stripes), " +
      s"(a, x) -> [${stripeRound("a[1]", "x[1]")}, ${stripeRound("a[2]", "x[2]")}, " +
      s"${stripeRound("a[3]", "x[3]")}, ${stripeRound("a[4]", "x[4]")}])"
    val sv = s"${pfx}sv"
    val merge0 = s"((${rot(s"$sv[1]", 1)} + ${rot(s"$sv[2]", 7)} + " +
      s"${rot(s"$sv[3]", 12)} + ${rot(s"$sv[4]", 18)}) % $M$HU)"
    def round0(v: String) = mulc(rot(mulc(v, P2), 31), P1)
    val merges = (1 to 4).map { i =>
      s"${pfx}m$i" -> add(mulc(xor(s"${pfx}m${i - 1}", round0(s"$sv[$i]")), P1), s"$P4$HU")
    }
    Seq(ln -> s"octet_length(encode($s))", sv -> sfold, s"${pfx}m0" -> merge0) ++ merges ++ Seq(
      s"${pfx}h0" -> s"CASE WHEN $ln >= 32 THEN ${pfx}m4 ELSE ${add(seed, s"$P5$HU")} END",
      s"${pfx}hl" -> add(s"${pfx}h0", s"$ln$HU"),
      s"${pfx}hw" -> (s"list_reduce(list_prepend(${pfx}hl, " +
        s"list_transform(generate_series(($ln//32)*4, $ln//8 - 1), wi -> ${word(s, "wi*8")})), " +
        s"(a, x) -> ${wordStep("a", "x")})"),
      s"${pfx}o4" -> s"($ln//8)*8",
      s"${pfx}h4" -> (s"CASE WHEN ${pfx}o4 + 4 <= $ln THEN " +
        s"${intStep(s"${pfx}hw", word(s, s"${pfx}o4", 4))} ELSE ${pfx}hw END"),
      s"${pfx}ot" -> s"${pfx}o4 + (CASE WHEN ${pfx}o4 + 4 <= $ln THEN 4 ELSE 0 END)",
      s"${pfx}hb" -> (s"list_reduce(list_prepend(${pfx}h4, " +
        s"list_transform(generate_series(${pfx}ot, $ln - 1), bi -> ord(substr($s, bi+1, 1))$HU)), " +
        s"(a, x) -> ${byteStep("a", "x")})")) ++ fmix(s"${pfx}hb", pfx)
  }

  /** XXH64.hashLong — one link of Spark's multi-argument `xxhash64` chain. */
  private[queries] def xxh64Long(x: String, seed: String, pfx: String): Seq[(String, String)] = Seq(
    s"${pfx}g1" -> mulc(x, P2),
    s"${pfx}g2" -> rot(s"${pfx}g1", 31),
    s"${pfx}g3" -> mulc(s"${pfx}g2", P1),
    s"${pfx}g4" -> xor(add(add(seed, s"$P5$HU"), s"8$HU"), s"${pfx}g3"),
    s"${pfx}g5" -> add(mulc(rot(s"${pfx}g4", 27), P1), s"$P4$HU")) ++ fmix(s"${pfx}g5", pfx)

  /** XXH64.hashInt — the band-index link of `xxhash64(band, sigString)`. */
  private def xxh64Int(x: String, seed: String, pfx: String): Seq[(String, String)] = Seq(
    s"${pfx}i1" -> add(add(seed, s"$P5$HU"), s"4$HU"),
    s"${pfx}i2" -> add(mulc(rot(xor(s"${pfx}i1", s"((($x)*$P1$HU) % $M$HU)"), 23), P2), s"$P3$HU")
  ) ++ fmix(s"${pfx}i2", pfx)

  private[queries] def signed(u: String): String =
    s"CAST(CASE WHEN ($u) >= $H63$HU THEN ($u) - $M$HU ELSE ($u) END AS BIGINT)"

  private[queries] def unsigned(s: String): String =
    s"(CASE WHEN ($s) < 0 THEN ($s)$HU + $M$HU ELSE ($s)$HU END)"

  /** Stage each hash step as its own projection layer: DuckDB substitutes
    * lateral aliases textually, so chained aliases explode exponentially;
    * nested subselects bind each expression once. */
  private[queries] def chain(base: String, aliases: Seq[(String, String)]): String =
    aliases.foldLeft(base) { case (sql, (a, e)) => s"SELECT *, $e AS $a FROM ($sql)" }

  private[queries] val toks =
    """list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0)"""

  /** documents rows with the loud non-ASCII guard (byte replay via
    * `ord(substr(...))` is only valid when codepoints == bytes). */
  private[queries] val guardedDocs =
    "SELECT doc_id, CASE WHEN octet_length(encode(text)) <> length(text) " +
      "THEN error('minhash oracle: non-ASCII text, byte-level XXH64 replay invalid for doc ' || doc_id) " +
      "ELSE text END AS text FROM documents"

  /** (doc_id, sh) — the shingle-hash replay (token XXH64 → 3-gram
    * running hashLong chain; short docs fall back to raw token hashes,
    * exactly like ShingleHashes.compute). Shared by the signature
    * replay and the containment-sketch set-size CTE. NOTE: emits one
    * row per gram POSITION (duplicates included) — consumers wanting
    * the set take DISTINCT, matching the Spark side's array_distinct.
    */
  private def shinglesSql: String = {
    val tokRows = chain(
      s"""SELECT doc_id, unnest(toks) AS tok, unnest(generate_series(0, len(toks) - 1)) AS tok_idx
         FROM (SELECT doc_id, $toks AS toks FROM ($guardedDocs))""",
      xxh64Str("tok", Seed, "t_"))
    val thList =
      s"""SELECT doc_id, list(th ORDER BY tok_idx) AS ths
         FROM (SELECT doc_id, tok_idx, ${signed("t_f5")} AS th FROM ($tokRows))
         GROUP BY doc_id"""
    val gramRows = chain(
      s"""SELECT doc_id, ${unsigned("ths[g]")} AS x1, ${unsigned("ths[g+1]")} AS x2, ${unsigned("ths[g+2]")} AS x3
         FROM (SELECT doc_id, ths, unnest(generate_series(1, len(ths) - 2)) AS g
               FROM ($thList) WHERE len(ths) >= 3)""",
      xxh64Long("x1", Seed, "a_") ++ xxh64Long("x2", "a_f5", "b_") ++ xxh64Long("x3", "b_f5", "c_"))
    s"""SELECT doc_id, ${signed("c_f5")} AS sh FROM ($gramRows)
       UNION ALL
       SELECT doc_id, unnest(ths) AS sh FROM ($thList) WHERE len(ths) < 3"""
  }

  /** (doc_id, sig) — the full signature replay as one SQL fragment.
    * Callers bind it as `sigs AS MATERIALIZED`: banding and both sides
    * of the estimate join read `sigs`, and DuckDB otherwise inlines a
    * CTE at each reference, replaying every signature once per read.
    */
  private def sigSql(numHashes: Int): String = {
    val shingles = shinglesSql
    val coeffVals = graft.dedup.Dedup.minhashCoeffs(numHashes).zipWithIndex
      .map { case ((a, b), i) =>
        s"($i, ${BigInt(a).mod(M)}$HU, ${BigInt(b).mod(M)}$HU)"
      }.mkString(", ")
    // permutation minima in SIGNED 64-bit order, as the Spark side's
    // min(h*a+b) over LongType
    val perm = s"((${mulv("hu", "c.a")}) + c.b) % $M$HU"
    s"""SELECT doc_id, list(mn ORDER BY i) AS sig
       FROM (SELECT doc_id, c.i AS i, min(${signed(perm)}) AS mn
             FROM (SELECT doc_id, ${unsigned("sh")} AS hu FROM ($shingles)) s,
                  (VALUES $coeffVals) c(i, a, b)
             GROUP BY doc_id, c.i)
       GROUP BY doc_id"""
  }

  /** (doc, band, band_hash) — the banding replay over `sigs` (a named CTE). */
  private def bandSql(bands: Int, rows: Int): String = {
    val bandBase =
      s"""SELECT doc_id AS doc, b AS band,
             array_to_string(list_transform([${(1 to rows).map(j => s"sig[b*$rows+$j]").mkString(", ")}],
                                            v -> CAST(v AS VARCHAR)), ',') AS bstr
         FROM (SELECT doc_id, sig, unnest(generate_series(0, ${bands - 1})) AS b FROM sigs)"""
    val hashed = chain(bandBase, xxh64Int("band", Seed, "q_") ++ xxh64Str("bstr", "q_f5", "u_"))
    s"SELECT doc, band, ${signed("u_f5")} AS band_hash FROM ($hashed)"
  }

  /** Signature-agreement estimate for a candidate frame `cand(aCol, bCol)`. */
  private def estSql(cand: String, aCol: String, bCol: String, numHashes: Int,
                     threshold: Double): String =
    s"""SELECT $aCol, $bCol, est_jaccard FROM (
         SELECT $aCol, $bCol,
                round(CAST(len(list_filter(generate_series(1, $numHashes), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes.0, 4) AS est_jaccard
         FROM ($cand) cand
         JOIN sigs sa ON cand.$aCol = sa.doc_id
         JOIN sigs sb ON cand.$bCol = sb.doc_id)
       WHERE est_jaccard >= $threshold"""

  private def cappedSelfJoinPairs(maxBucket: Int): String =
    s"""SELECT DISTINCT l.doc AS a, r.doc AS b
       FROM capped l JOIN capped r ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc < r.doc"""

  private def cappedCte(src: String, maxBucket: Int): String =
    s"""SELECT doc, band, band_hash
       FROM (SELECT *, count(*) OVER (PARTITION BY band, band_hash) AS bsz FROM $src)
       WHERE bsz <= $maxBucket"""

  /** Oracle for `dd_minhash`: (a, b, est_jaccard). */
  def minhashPairs(threshold: Double = 0.5, numHashes: Int = 64, bands: Int = 16,
                   maxBucket: Int = 1000): String =
    s"""WITH sigs AS MATERIALIZED (${sigSql(numHashes)}),
          banded AS (${bandSql(bands, numHashes / bands)}),
          capped AS (${cappedCte("banded", maxBucket)}),
          cand AS (${cappedSelfJoinPairs(maxBucket)})
       ${estSql("SELECT a, b FROM cand", "a", "b", numHashes, threshold)}"""

  /** Oracle for `dd_minhash_incremental`: (batch_id, corpus_id,
    * est_jaccard); batch = every 10th doc, cap on the corpus side only —
    * as in [[graft.dedup.Dedup.crossMinhashPairs]]'s call site. */
  def minhashIncremental(threshold: Double = 0.5, numHashes: Int = 64, bands: Int = 16,
                         maxBucket: Int = 1000): String =
    s"""WITH sigs AS MATERIALIZED (${sigSql(numHashes)}),
          banded AS (${bandSql(bands, numHashes / bands)}),
          bb AS (SELECT band, band_hash, doc AS batch_id FROM banded WHERE doc % 10 = 0),
          cb0 AS (SELECT doc, band, band_hash FROM banded WHERE doc % 10 <> 0),
          cb AS (SELECT band, band_hash, doc AS corpus_id FROM (${cappedCte("cb0", maxBucket)})),
          cand AS (SELECT DISTINCT batch_id, corpus_id FROM bb JOIN cb USING (band, band_hash))
       ${estSql("SELECT batch_id, corpus_id FROM cand", "batch_id", "corpus_id", numHashes, threshold)}"""

  /** Oracle for `dd_containment_sketch`: the containment-MinHash
    * production arm replayed end-to-end — signatures + banding + cap
    * exactly as [[minhashPairs]], per-doc set sizes as
    * `count(DISTINCT sh)` over the replayed shingles (the Spark side's
    * `count(*)` over already-distinct arrays), Broder's containment
    * estimate from the agreement Jaccard in the SAME IEEE operation
    * order as the Column expression, then the exact string-3-gram
    * containment verify (the dd_containment replay — hash sets and
    * string sets agree absent 64-bit collisions).
    */
  def containmentSketch(estThreshold: Double = 0.3, contThreshold: Double = 0.3,
                        numHashes: Int = 64, bands: Int = 16,
                        maxBucket: Int = 1000): String =
    s"""WITH sigs AS MATERIALIZED (${sigSql(numHashes)}),
          sizes AS (SELECT doc_id, count(DISTINCT sh) AS nset FROM ($shinglesSql) GROUP BY doc_id),
          banded AS (${bandSql(bands, numHashes / bands)}),
          capped AS (${cappedCte("banded", maxBucket)}),
          cand AS (${cappedSelfJoinPairs(maxBucket)}),
          est0 AS (SELECT cand.a, cand.b,
                          round(CAST(len(list_filter(generate_series(1, $numHashes), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes.0, 4) AS est_jaccard,
                          za.nset AS na, zb.nset AS nb
                   FROM cand
                   JOIN sigs sa ON cand.a = sa.doc_id JOIN sigs sb ON cand.b = sb.doc_id
                   JOIN sizes za ON cand.a = za.doc_id JOIN sizes zb ON cand.b = zb.doc_id),
          est AS (SELECT a, b, est_jaccard,
                         round(est_jaccard / (est_jaccard + 1.0) * CAST(na + nb AS DOUBLE) / CAST(na AS DOUBLE), 4) AS est_cont_ab,
                         round(est_jaccard / (est_jaccard + 1.0) * CAST(na + nb AS DOUBLE) / CAST(nb AS DOUBLE), 4) AS est_cont_ba
                  FROM est0),
          flt AS (SELECT * FROM est WHERE greatest(est_cont_ab, est_cont_ba) >= $estThreshold),
          tk0 AS (SELECT doc_id, $toks AS l FROM documents),
          grams AS (SELECT doc_id, list_distinct(CASE WHEN len(l) >= 3
                      THEN list_transform(generate_series(1, len(l) - 2), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
                      ELSE l END) AS tk
                    FROM tk0),
          v AS (SELECT f.a, f.b, f.est_jaccard, f.est_cont_ab, f.est_cont_ba,
                       round(CAST(len(list_intersect(gl.tk, gr.tk)) AS DOUBLE) / CAST(len(gl.tk) AS DOUBLE), 4) AS cont_ab,
                       round(CAST(len(list_intersect(gl.tk, gr.tk)) AS DOUBLE) / CAST(len(gr.tk) AS DOUBLE), 4) AS cont_ba
                FROM flt f JOIN grams gl ON f.a = gl.doc_id JOIN grams gr ON f.b = gr.doc_id)
       SELECT a, b, est_jaccard, est_cont_ab, est_cont_ba, cont_ab, cont_ba
       FROM v WHERE greatest(cont_ab, cont_ba) >= $contThreshold"""

  /** Oracle for `dd_lsh_resolve`: (doc_id, lang) — LSH candidates →
    * exact token-set Jaccard verify → connected components (recursive
    * CTE) → keep canonical members only. */
  def lshResolve(threshold: Double = 0.5, numHashes: Int = 64, bands: Int = 16,
                 maxBucket: Int = 1000): String =
    s"""WITH RECURSIVE sigs AS MATERIALIZED (${sigSql(numHashes)}),
          banded AS (${bandSql(bands, numHashes / bands)}),
          capped AS (${cappedCte("banded", maxBucket)}),
          cand AS (${cappedSelfJoinPairs(maxBucket)}),
          mhp AS (${estSql("SELECT a, b FROM cand", "a", "b", numHashes, threshold)}),
          toksd AS (SELECT doc_id, list_distinct($toks) AS tk FROM documents),
          p AS (SELECT a, b FROM (
                  SELECT mhp.a, mhp.b,
                         round(CAST(len(list_intersect(l.tk, r.tk)) AS DOUBLE) /
                               CAST(len(list_distinct(list_concat(l.tk, r.tk))) AS DOUBLE), 4) AS jac
                  FROM mhp JOIN toksd l ON mhp.a = l.doc_id JOIN toksd r ON mhp.b = r.doc_id)
                WHERE jac >= $threshold),
          edges AS (SELECT a AS src, b AS dst FROM p UNION SELECT b AS src, a AS dst FROM p),
          reach AS (SELECT src AS node, src AS comp FROM edges
                    UNION
                    SELECT e.src AS node, r.comp AS comp FROM edges e JOIN reach r ON e.dst = r.node),
          losers AS (SELECT node FROM (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
                     WHERE node <> comp)
       SELECT doc_id, lang FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)"""
}
