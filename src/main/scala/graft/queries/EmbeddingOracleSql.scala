package graft.queries

import org.apache.spark.sql.catalyst.expressions.XXH64

/** DuckDB-SQL replay of SRP-bucketed embedding-cosine near-dup detection.
  *
  * Recomputes what [[graft.ann.Ann.cosinePairs]] /
  * [[graft.ann.Ann.crossCosinePairs]] emit: signed-random-projection
  * bucket ids → capped bucket join with multiprobe → cosine verify. The
  * pieces that make the replay exact:
  *
  *  - the ±1 hyperplane components are a pure function of (plane, dim) —
  *    parity of `xxhash64(p, i)` — so the generator embeds the sign
  *    matrix as literal per-plane arrays (the same device
  *    [[MinHashOracleSql]] uses for the permutation coefficients) and the
  *    SQL guards on the expected dimensionality;
  *  - the projection is a SEQUENTIAL double sum (`list_reduce` replays
  *    Spark's i = 0..n-1 loop in the same IEEE order; float→double
  *    widening and ±1 multiplication are exact);
  *  - the cosine itself reuses the `list_cosine_similarity(DOUBLE[])`
  *    equivalence already hash-proven by the `ann_brute` oracle;
  *  - the hot-bucket cap replays as a window count ≤ maxBucket on the
  *    base-bucket side only, exactly [[graft.dedup.Dedup.capBuckets]].
  */
object EmbeddingOracleSql {

  /** ±1.0 sign literal arrays, one per plane: parity of the chained
    * xxhash64(p, i) — bit-identical with SrpBucket.signs and the Column
    * form's pmod(xxhash64(p, i), 2). */
  private def signArrays(nBits: Int, dim: Int): Seq[String] =
    (0 until nBits).map { p =>
      val s1 = XXH64.hashInt(p, 42L)
      (0 until dim).map { i =>
        if ((XXH64.hashInt(i, s1) & 1L) == 0L) "1.0" else "-1.0"
      }.mkString("[", ", ", "]")
    }

  /** (vec_id, e DOUBLE[], b0) — SRP bucket replay over `embeddings`,
    * with a loud guard on unexpected dimensionality (the sign matrix is
    * generated for exactly `dim`). */
  private def bucketSql(nBits: Int, dim: Int): String = {
    val signs = signArrays(nBits, dim)
    val projCols = signs.zipWithIndex.map { case (arr, p) =>
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, $dim), i -> e[i] * ($arr)[i])),
          (a, x) -> a + x) AS pr$p"""
    }.mkString(",\n              ")
    val bucket = (0 until nBits)
      .map(p => s"CASE WHEN pr$p >= 0 THEN ${1 << p} ELSE 0 END")
      .mkString(" + ")
    s"""SELECT vec_id, e, CAST($bucket AS INTEGER) AS b0
       FROM (SELECT vec_id, e,
              $projCols
             FROM (SELECT vec_id,
                     CASE WHEN len(embedding) <> $dim
                          THEN error('srp oracle: expected dim $dim, got ' || len(embedding) || ' for vec ' || vec_id)
                          -- FLOAT[] hop mirrors Graft.embeddings' defensive
                          -- double→float narrowing (identity on a float corpus)
                          ELSE CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) END AS e
                   FROM embeddings))"""
  }

  private def probeValues(probeBits: Int): String =
    (0L +: (0 until probeBits).map(b => 1L << b)).map(f => s"($f)").mkString(", ")

  /** Oracle for `dd_embedding` (and the ≥0.95 resolve variant's pair
    * stage): (a, b, cos) with least/greatest canonicalization and the
    * base-side cap — exactly cosinePairs(maxBucket > 0). */
  def cosinePairs(threshold: Double, nBits: Int = 6, probeBits: Int = 3,
                  maxBucket: Int = 1000, dim: Int = 64): String =
    s"""WITH bkt AS (${bucketSql(nBits, dim)}),
          capped AS (SELECT vec_id, e, b0 FROM
                       (SELECT *, count(*) OVER (PARTITION BY b0) AS bsz FROM bkt)
                     WHERE bsz <= $maxBucket),
          l AS (SELECT vec_id AS a, e AS va, xor(b0, f) AS bucket
                FROM bkt, (VALUES ${probeValues(probeBits)}) fl(f)),
          r AS (SELECT vec_id AS b, e AS vb, b0 AS bucket FROM capped)
       SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b,
              round(list_cosine_similarity(va, vb), 6) AS cos
       FROM l JOIN r USING (bucket)
       WHERE a <> b AND round(list_cosine_similarity(va, vb), 6) >= $threshold"""

  /** Oracle for `dd_embedding_resolve`: cosinePairs(threshold) edges →
    * connected components (recursive CTE) → survivors (vec_id, label). */
  def cosineResolve(threshold: Double, nBits: Int = 6, probeBits: Int = 3,
                    maxBucket: Int = 1000, dim: Int = 64): String =
    s"""WITH RECURSIVE bkt AS (${bucketSql(nBits, dim)}),
          capped AS (SELECT vec_id, e, b0 FROM
                       (SELECT *, count(*) OVER (PARTITION BY b0) AS bsz FROM bkt)
                     WHERE bsz <= $maxBucket),
          l AS (SELECT vec_id AS a, e AS va, xor(b0, f) AS bucket
                FROM bkt, (VALUES ${probeValues(probeBits)}) fl(f)),
          r AS (SELECT vec_id AS b, e AS vb, b0 AS bucket FROM capped),
          p AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
                FROM l JOIN r USING (bucket)
                WHERE a <> b AND round(list_cosine_similarity(va, vb), 6) >= $threshold),
          edges AS (SELECT a AS src, b AS dst FROM p UNION SELECT b AS src, a AS dst FROM p),
          reach AS (SELECT src AS node, src AS comp FROM edges
                    UNION
                    SELECT e.src AS node, r2.comp AS comp FROM edges e JOIN reach r2 ON e.dst = r2.node),
          losers AS (SELECT node FROM (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
                     WHERE node <> comp)
       SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN (SELECT node FROM losers)"""

  /** Oracle for `ann_lsh`: (query_id, neighbor_id, rank, cos) — SRP
    * top-k, queries = vec_id < 10 probing own bucket + first-probeBits
    * 1-bit flips; ranking on the UNROUNDED cosine with neighbor-id
    * tie-break, exactly [[graft.ann.Ann.lshTopK]] (no cap in this path). */
  def lshTopK(k: Int = 10, nBits: Int = 6, probeBits: Int = 4,
              dim: Int = 64): String =
    s"""WITH bkt AS (${bucketSql(nBits, dim)}),
          c AS (SELECT vec_id AS neighbor_id, e AS cv, b0 AS bucket FROM bkt),
          q AS (SELECT vec_id AS query_id, e AS qv, xor(b0, f) AS bucket
                FROM bkt, (VALUES ${probeValues(probeBits)}) fl(f)
                WHERE vec_id < 10),
          scored AS (SELECT query_id, neighbor_id,
                            list_cosine_similarity(qv, cv) AS cosr
                     FROM q JOIN c USING (bucket)
                     WHERE neighbor_id <> query_id)
       SELECT query_id, neighbor_id, rank, cos FROM (
         SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosr DESC, neighbor_id ASC) AS rank,
                round(cosr, 6) AS cos
         FROM scored)
       WHERE rank <= $k"""

  /** Oracle for `pp_bitext_mine`: (src_id, tgt_id, cos) — source side
    * (even labels) probes the capped target side (odd labels) through
    * the SRP buckets exactly as [[crossCosine]], then the MUTUAL-best
    * filter: forward best target per source AND backward best source
    * per target, ranked on the rounded cosine with id tie-break (the
    * pair set carries the rounded value, so both engines rank the same
    * key). */
  def bitextMutualBest(threshold: Double, nBits: Int = 6, probeBits: Int = 3,
                       maxBucket: Int = 1000, dim: Int = 64): String =
    s"""WITH bkt AS (${bucketSql(nBits, dim)}),
          lab AS (SELECT vec_id, label FROM embeddings),
          corp AS (SELECT vec_id, e, b0 FROM
                     (SELECT bkt.vec_id, bkt.e, bkt.b0,
                             count(*) OVER (PARTITION BY b0) AS bsz
                      FROM bkt JOIN lab USING (vec_id) WHERE label % 2 <> 0)
                   WHERE bsz <= $maxBucket),
          l AS (SELECT bkt.vec_id AS src_id, e AS va, xor(b0, f) AS bucket
                FROM bkt JOIN lab USING (vec_id),
                     (VALUES ${probeValues(probeBits)}) fl(f)
                WHERE label % 2 = 0),
          p AS (SELECT src_id, r.vec_id AS tgt_id,
                       round(list_cosine_similarity(va, r.e), 6) AS cos
                FROM l JOIN (SELECT vec_id, e, b0 AS bucket FROM corp) r
                     USING (bucket)
                WHERE round(list_cosine_similarity(va, r.e), 6) >= $threshold),
          rk AS (SELECT src_id, tgt_id, cos,
                        row_number() OVER (PARTITION BY src_id
                                           ORDER BY cos DESC, tgt_id ASC) AS rf,
                        row_number() OVER (PARTITION BY tgt_id
                                           ORDER BY cos DESC, src_id ASC) AS rb
                 FROM p)
       SELECT src_id, tgt_id, cos FROM rk WHERE rf = 1 AND rb = 1"""

  /** Oracle for `ann_incremental`: (batch_id, corpus_id, cos) — batch =
    * vec_id % 10 = 0 probes into the capped corpus buckets; pairs unique
    * by construction (corpus rows key by their one bucket, probe flips
    * are distinct), so no DISTINCT — exactly crossCosinePairs. */
  def crossCosine(threshold: Double, nBits: Int = 6, probeBits: Int = 3,
                  maxBucket: Int = 1000, dim: Int = 64): String =
    s"""WITH bkt AS (${bucketSql(nBits, dim)}),
          corp AS (SELECT vec_id, e, b0 FROM
                     (SELECT *, count(*) OVER (PARTITION BY b0) AS bsz
                      FROM bkt WHERE vec_id % 10 <> 0)
                   WHERE bsz <= $maxBucket),
          l AS (SELECT vec_id AS batch_id, e AS va, xor(b0, f) AS bucket
                FROM bkt, (VALUES ${probeValues(probeBits)}) fl(f)
                WHERE vec_id % 10 = 0),
          r AS (SELECT vec_id AS corpus_id, e AS vb, b0 AS bucket FROM corp)
       SELECT batch_id, corpus_id, round(list_cosine_similarity(va, vb), 6) AS cos
       FROM l JOIN r USING (bucket)
       WHERE round(list_cosine_similarity(va, vb), 6) >= $threshold"""
}
