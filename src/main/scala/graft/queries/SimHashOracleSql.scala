package graft.queries

import MinHashOracleSql.{chain, guardedDocs, signed, unsigned, toks, xxh64Str, Seed, HU, M}

/** DuckDB-SQL replay of SimHash near-dup detection, bit-for-bit.
  *
  * Recomputes what [[graft.dedup.Dedup.simhashPairs]] emits: tokenize →
  * XXH64 per token (duplicates preserved) → per-bit ±1 vote counts →
  * 64-bit signature → Hamming-≤h pairs. Two structural facts make the
  * oracle EXACT rather than a replay of the physical plan:
  *
  *  - the chunk blocking is COMPLETE by pigeonhole (distance ≤ h ⇒ some
  *    one of the h+1 chunks agrees), so the blocked candidate set,
  *    verified with `bit_count(xor)`, equals the all-pairs answer;
  *  - the hot-bucket cap (`maxBucket = 1000`) is structurally inert at
  *    oracle scale — no chunk bucket can exceed the document count
  *    (500 at sf0.01) — so nothing is dropped before the verify.
  *
  * Hence the oracle computes all-pairs Hamming distance directly over
  * SQL-replayed signatures (O(n²) only at oracle scale; the Spark side
  * keeps its banded near-linear plan). Same ASCII guard as
  * [[MinHashOracleSql]] — byte-level XXH64 replay requires bytes ==
  * codepoints.
  *
  * Signed-shift parity: Spark folds `(h >> i) & 1` over SIGNED longs;
  * for every i in 0..63 (sign bit included) that equals bit i of the
  * unsigned reinterpretation, i.e. `(hu // 2^i) % 2` in HUGEINT.
  */
object SimHashOracleSql {

  /** Oracle for `dd_simhash`: (a, b, hamming), Hamming ≤ `maxHamming`. */
  def simhashPairs(maxHamming: Int = 3): String = {
    val tokRows = chain(
      s"""SELECT doc_id, unnest(toks) AS tok
         FROM (SELECT doc_id, $toks AS toks FROM ($guardedDocs))""",
      xxh64Str("tok", Seed, "t_"))
    // per-bit ±1 vote counts, then bit assembly: sum of 2^i where the
    // vote is positive — exactly the simhash_sig kernel's fold
    val bitVotes =
      s"""SELECT doc_id, i,
             sum(CASE WHEN (hu // power(2, i)::HUGEINT) % 2$HU = 1$HU THEN 1 ELSE -1 END) AS cnt
         FROM (SELECT doc_id, ${unsigned(signed("t_f5"))} AS hu FROM ($tokRows)) t,
              (SELECT unnest(generate_series(0, 63)) AS i) bits
         GROUP BY doc_id, i"""
    val sigs =
      s"""SELECT doc_id,
             ${signed(s"sum(CASE WHEN cnt > 0 THEN power(2, i)::HUGEINT ELSE 0$HU END) % $M$HU")} AS sh
         FROM ($bitVotes) GROUP BY doc_id"""
    s"""WITH sigs AS ($sigs)
       SELECT a, b, hamming FROM (
         SELECT l.doc_id AS a, r.doc_id AS b,
                CAST(bit_count(xor(CAST(${unsigned("l.sh")} AS UBIGINT), CAST(${unsigned("r.sh")} AS UBIGINT))) AS INTEGER) AS hamming
         FROM sigs l JOIN sigs r ON l.doc_id < r.doc_id)
       WHERE hamming <= $maxHamming"""
  }
}
