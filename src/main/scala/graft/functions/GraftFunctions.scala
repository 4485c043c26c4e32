package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType}

/** SQL registration + Column-API surface for the custom Catalyst
  * expressions. [[GraftExtensions]] injects [[all]] into every session
  * that names it in `spark.sql.extensions`, as [[graft.Sessions]] does;
  * the Column wrappers build the same expressions directly and need no
  * registration.
  */
object GraftFunctions {

  /** Scalar (foldable) args arrive as whatever literal type the parser
    * produced — SQL `graft_winnow(t, 8, 4)` parses the ints as INT but
    * `8L`/BIGINT literals (or another frontend's longs) are equally
    * valid; a blind `asInstanceOf[Int]` throws ClassCastException on
    * those. Number.xxxValue() accepts any numeric literal. */
  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()
  private def longArg(e: Expression): Long =
    e.eval().asInstanceOf[Number].longValue()

  val all: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    // explicit input casts here replace ExpectsInputTypes (whose
    // AbstractDataType is private[sql])
    ("graft_geohash",
      (es: Seq[Expression]) => GeohashEncode(Cast(es(0), DoubleType),
        Cast(es(1), DoubleType), Cast(es(2), IntegerType)),
      "graft_geohash(lat, lon, precision) - base-32 geohash of a coordinate"),
    ("graft_simhash",
      (es: Seq[Expression]) => SimHash(Cast(es.head, ArrayType(StringType))),
      "graft_simhash(tokens) - 64-bit SimHash of a token array"),
    ("graft_minhash",
      (es: Seq[Expression]) => MinHashSignature(Cast(es.head, ArrayType(StringType)),
        intArg(es(1))),
      "graft_minhash(tokens, k) - k-permutation MinHash signature"),
    ("graft_winnow",
      (es: Seq[Expression]) => Winnow(Cast(es.head, StringType),
        intArg(es(1)), intArg(es(2))),
      "graft_winnow(text, k, w) - winnowed rolling-hash fingerprint set"),
    ("graft_srp_bands",
      (es: Seq[Expression]) => SrpBands(Cast(es.head, ArrayType(DoubleType)),
        intArg(es(1)), intArg(es(2)), longArg(es(3))),
      "graft_srp_bands(vec, bitsPerBand, nBands, seed) - signed-random-projection LSH band buckets"),
    // no cast: DotProduct reads float arrays natively (the cast pass
    // is exactly the allocation it exists to eliminate)
    ("graft_dot",
      (es: Seq[Expression]) => DotProduct(es(0), es(1)),
      "graft_dot(a, b) - allocation-free dot product of two float/double vectors"),
    ("graft_idot",
      (es: Seq[Expression]) => IntDotProduct(es(0), es(1)),
      "graft_idot(a, b) - allocation-free integer dot product of two int/long vectors"),
    ("graft_inorm2",
      (es: Seq[Expression]) => IntNorm2(es.head),
      "graft_inorm2(a) - allocation-free integer squared norm of an int/long vector"),
    ("graft_image_meta",
      (es: Seq[Expression]) => ImageMeta(es.head),
      "graft_image_meta(blob) - real PNG decode (JDK ImageIO): dims, bands, sample stats"),
    ("graft_image_dhash",
      (es: Seq[Expression]) => ImageDHash(es.head),
      "graft_image_dhash(blob) - perceptual difference hash over the real decoded raster"),
    // the one AGGREGATE in the set: builds a serialized Count-Min
    // sketch; probe it with CountMinAgg.estimate (driver) or the
    // broadcast CountMinEstimate expression (distributed)
    ("graft_countmin",
      (es: Seq[Expression]) => CountMinAgg(Cast(es.head, StringType))
        .toAggregateExpression(),
      "graft_countmin(key) - serialized Count-Min Sketch of a string column"),
  )

  // The Column wrappers below construct their expressions DIRECTLY
  // (ColumnBridge) rather than via call_function on a registered name:
  // they are pure — no session needs to exist at Column-construction
  // time, no thread-local active-session coupling, no per-call
  // register() side effect (the same fix ADVICE r3 demanded for
  // Vectors.dot). GraftExtensions remains the path for SQL users; both
  // resolve to the identical expressions.
  private def br(c: Column): Expression =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)
  private def wrap(e: Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)

  /** geohash via the codegen'd native expression (cf. Geo.geohash8,
    * the UDF reference implementation). Inputs: double lat/lon. */
  def geohash(lat: Column, lon: Column, precision: Int): Column =
    wrap(GeohashEncode(Cast(br(lat), DoubleType), Cast(br(lon), DoubleType),
      org.apache.spark.sql.catalyst.expressions.Literal(precision)))

  def simhash(tokens: Column): Column =
    wrap(SimHash(Cast(br(tokens), ArrayType(StringType))))

  def minhash(tokens: Column, k: Int): Column =
    wrap(MinHashSignature(Cast(br(tokens), ArrayType(StringType)), k))

  def winnow(text: Column, k: Int, w: Int): Column =
    wrap(Winnow(Cast(br(text), StringType), k, w))

  def srpBands(vec: Column, bitsPerBand: Int, nBands: Int,
      seed: Long): Column =
    wrap(SrpBands(Cast(br(vec), ArrayType(DoubleType)), bitsPerBand,
      nBands, seed))

  /** Bloom membership probe via the native [[BloomContains]]
    * expression. Column-API only (deliberately NOT in [[all]]): its
    * filter argument is a runtime `Broadcast` handle with no
    * SQL-literal spelling — the same reason Spark's own
    * `BloomFilterMightContain` is optimizer-internal rather than a
    * registered SQL function. */
  def bloomContains(filter: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter], key: Column): Column =
    wrap(BloomContains(br(key), filter))

  /** Count-Min frequency estimate via the native [[CountMinEstimate]]
    * expression over a broadcast sketch — the distributed probe twin
    * of the `graft_countmin` aggregate. Column-API only, same
    * broadcast-handle rationale as [[bloomContains]]. */
  def countMinEstimate(sketch: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.CountMinSketch], key: Column): Column =
    wrap(CountMinEstimate(br(key), sketch))
}

/** `SparkSessionExtensions` injector for spark.sql.extensions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder, usage) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name, usage),
        builder))
    }
}
