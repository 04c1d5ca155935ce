package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim

/** Embedding-vector math over `array<float>`/`array<double>` columns.
  *
  * The default entry points are single-pass custom Catalyst expressions
  * ([[CosineSimilarity]], [[DotProduct]], [[HyperplaneSignature]]); the
  * `...Hof` twins are the same math composed from Spark's higher-order
  * array built-ins (zip_with / aggregate), kept as the independent
  * reference implementation — tests assert both agree. Accumulation is
  * per-row sequential in both — bit-for-bit deterministic across
  * partitionings, which matters for reproducible dedup/ANN at scale.
  */
object VectorFunctions {

  /** Dot product, double accumulator, one pass. */
  def dot(a: Column, b: Column): Column =
    shim.column(DotProduct(shim.expression(a), shim.expression(b)))

  /** Cosine similarity; zero-norm/mismatched inputs → 0.0 (not NaN). */
  def cosine(a: Column, b: Column): Column =
    shim.column(CosineSimilarity(shim.expression(a), shim.expression(b)))

  /** Exact int64 dot for quantized vectors ([[LongDotProduct]] kernel —
    * codegen'd; value-identical to the interpreted HOF form, which at
    * PAIR grain was the quantized family's hot path). */
  def longDot(a: Column, b: Column): Column =
    shim.column(LongDotProduct(shim.expression(a), shim.expression(b)))

  /** Exact int64 squared L2 distance Σ(a−b)² ([[LongL2Distance]]
    * kernel — codegen'd, one fused pass; the PQ sub-quantizer
    * distance). */
  def longL2(a: Column, b: Column): Column =
    shim.column(LongL2Distance(shim.expression(a), shim.expression(b)))

  /** Deterministic pseudo-random hyperplane signature for LSH bucketing
    * (`planes` ≤ 63 sign bits as a long). Position-seeded weights — every
    * executor computes identical planes, nothing broadcast. */
  def hyperplaneSignature(vec: Column, planes: Int): Column =
    shim.column(HyperplaneSignature(shim.expression(vec), planes))

  /** Hamming distance between two long bitmasks (simhash values or
    * hyperplane signatures). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- higher-order-function reference implementations ----------------

  /** HOF reference twin of [[dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** HOF reference twin of [[cosine]] (NaN-guarded like the kernel). */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = sqrt(dotHof(a, a)) * sqrt(dotHof(b, b))
    when(denom === 0, lit(0.0)).otherwise(dotHof(a, b) / denom)
  }
}
