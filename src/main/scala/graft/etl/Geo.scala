package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geohash encoding (SURVEY.md §2.3 F6) — the reference's only
  * non-builtin row function: `geohash.encode(lat, lon, 8)` into the
  * derived `Residence_Addresses_GeoHash` column, computed only when
  * both coordinates are present (load-s3.ts:186-193; precision 8 per
  * load-s3.ts:190).
  *
  * The algorithm is the standard public geohash: interleave lon/lat
  * range-bisection bits, 5 bits per base-32 character. Pure Scala
  * (~25 LoC, no deps), exposed as a UDF here and as a codegen'd
  * Catalyst Expression in `graft.functions.GeohashExpr` (idiomatic
  * fast path — the UDF stays as the reference implementation for
  * differential testing).
  */
object Geo {

  private val base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Standard geohash encode. Caller guarantees finite lat/lon. */
  def encode(lat: Double, lon: Double, precision: Int): String = {
    val sb = new java.lang.StringBuilder(precision)
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    var even = true; var bit = 0; var ch = 0
    while (sb.length < precision) {
      if (even) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid }
        else { ch = ch << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid }
        else { ch = ch << 1; latHi = mid }
      }
      even = !even
      bit += 1
      if (bit == 5) { sb.append(base32.charAt(ch)); bit = 0; ch = 0 }
    }
    sb.toString
  }

  /** Null-safe string-input encode, mirroring the reference's "only
    * when both lat AND lon parse" guard. Lat/lon arrive as TEXT in the
    * voter schema (Voter.prisma:33-34). */
  def encodeStrings(lat: String, lon: String, precision: Int): String = {
    if (lat == null || lon == null) return null
    try {
      val la = lat.trim.toDouble
      val lo = lon.trim.toDouble
      if (la.isNaN || lo.isNaN || la < -90 || la > 90 || lo < -180 || lo > 180) null
      else encode(la, lo, precision)
    } catch { case _: NumberFormatException => null }
  }

  private val geohashUdf =
    udf((lat: String, lon: String, p: Int) => encodeStrings(lat, lon, p))

  /** Column form over the TEXT lat/lon columns, precision 8 — the UDF
    * reference twin, kept for differential testing against
    * [[geohash8Native]] (which the load path uses). */
  def geohash8(lat: Column, lon: Column): Column =
    geohashUdf(lat, lon, lit(8))

  /** Codegen'd form of [[geohash8]] over the TEXT lat/lon columns:
    * `try_cast` to double (junk/empty → NULL — the same null-on-junk
    * contract as [[encodeStrings]]'s parse-and-catch: both paths
    * bottom out in `Double.parseDouble` on the trimmed string, and
    * the special literals try_cast additionally accepts, ±"inf"/NaN,
    * encode to NULL anyway via the range guard) feeding the native
    * `GeohashEncode` expression. Keeps the voter load's derive stage
    * in generated code instead of fencing every row through a Scala
    * closure; bit-identical output
    * is asserted by the differential test in GeohashSpec. */
  def geohash8Native(lat: Column, lon: Column): Column =
    graft.functions.GraftFunctions.geohash(
      lat.try_cast(org.apache.spark.sql.types.DoubleType),
      lon.try_cast(org.apache.spark.sql.types.DoubleType), 8)
}
