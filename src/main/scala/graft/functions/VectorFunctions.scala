package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

/** Embedding-vector math as Column expressions (codegen'd; no UDF
  * deserialization in the scan path). Inputs are `array<float>` columns;
  * arithmetic is promoted to double for stable cross-engine comparisons.
  */
object VectorFunctions {

  /** Cosine for the candidate-pair hot path: the native kernel
    * ([[CosineSimilarity]] — codegen'd primitive loop over the two
    * float arrays, no higher-order-function lambda dispatch).
    */
  def cosineNative(aCol: String, bCol: String): Column =
    cosineNative(col(aCol), col(bCol))

  /** [[cosineNative]] over explicit Columns — for call sites (e.g. join
    * conditions in a self-join) where bare column names would be
    * ambiguous between the two sides.
    */
  def cosineNative(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** Signed random projection (SimHash for vectors) as the native
    * [[SrpBucket]] kernel: `nBits` hyperplanes with deterministic ±1
    * components derived from xxhash64(planeIdx, dim) — no stored model,
    * reproducible across runs and executors. Returns an int bucket id in
    * [0, 2^nBits).
    */
  def srpBucketNative(vecCol: String, nBits: Int): Column =
    column(SrpBucket(expression(col(vecCol)), expression(lit(nBits))))

  /** Symmetric int8 scalar quantization of an embedding vector — the
    * standard 4x storage codec for vector stores (float32 → one byte
    * per dim + one scale): per-vector scale s = max|x| / 127, code_i =
    * round(x_i / s) (zero vector → all-zero codes, s = 0). Returns
    * struct(scale double, codes array<int>). Deterministic and
    * engine-portable: max is exact (no FP accumulation), the division
    * and half-away-from-zero rounding replay bit-for-bit in DuckDB.
    * Pure per-row codegen'd HOF — no shuffle, no UDF.
    */
  def quantizeInt8(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val s = aggregate(transform(v, x => abs(x)), lit(0.0),
      (acc, x) => greatest(acc, x)) / lit(127.0)
    struct(s.as("scale"),
      when(s === 0.0, transform(v, _ => lit(0)))
        .otherwise(transform(v, x => round(x / s).cast("int"))).as("codes"))
  }

  /** Inverse of [[quantizeInt8]]: codes × scale back to doubles. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c => c.cast("double") * q.getField("scale"))
}
