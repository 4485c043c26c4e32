package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Vector math over `array<float>` embedding columns, built on the
  * native [[DotProduct]] expression (`graft_dot`) — a single fused,
  * allocation-free loop inside WholeStageCodegen. The earlier
  * composed form (`aggregate(zip_with(...))` over `array<double>`
  * casts) computed the same values but allocated three intermediate
  * arrays per evaluation, which dominates when evaluations number
  * in the candidate-pair millions (LSH verification, all-pairs
  * oracles).
  *
  * All math is done in double precision (floats widen exactly,
  * products accumulate left-to-right in double — the identical IEEE
  * sequence to the old composed form) and rounded once at the end;
  * two engines computing dot/(|a|·|b|) agree to ~1e-15, so round-6
  * values are stable across Spark and the DuckDB oracle.
  */
object Vectors {

  def toDouble(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    // the Column is built directly over the expression — no
    // call_function name resolution, so dot() is pure: no session
    // needs to exist when the Column is BUILT, and a multi-session
    // driver cannot pick up the wrong thread-local active session
    // (the old SparkSession.active registration hack). SQL users
    // still reach the same expression as `graft_dot` via
    // GraftExtensions.
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Integer dot product over int/long arrays — the quantized-path
    * twin of [[dot]] (`graft_idot`), exact 64-bit arithmetic. */
  def idot(a: Column, b: Column): Column =
    ColumnBridge.column(IntDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Integer squared norm (`graft_inorm2`): one fused pass instead of
    * transform + fold. */
  def inorm2(a: Column): Column =
    ColumnBridge.column(IntNorm2(ColumnBridge.expression(a)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Oracle-stable cosine: double math, rounded to 6 places. */
  def cosine6(a: Column, b: Column): Column =
    round(cosine(a, b), 6)

  /** Cosine from pre-computed per-row norms: in an all-pairs join the
    * naive form recomputes |a| and |b| once PER PAIR (3 array passes
    * per pair); precompute a `norm(...)` column on each side and pay
    * one pass per pair. Same arithmetic (dot / (na*nb)) → same
    * round-6 values as `cosine6`. */
  def cosine6WithNorms(a: Column, an: Column, b: Column, bn: Column): Column =
    round(dot(a, b) / (an * bn), 6)

  /** The per-row norm column to pair with [[cosine6WithNorms]]. */
  def normCol(a: Column): Column = norm(a)
}
