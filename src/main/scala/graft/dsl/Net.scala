package graft.dsl

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ES `ip` field type + `ip_range` agg support.
  *
  * An ip field is a dotted-quad string column; range semantics compare the
  * 32-bit numeric value (ES indexes ip fields as numbers for exactly this
  * reason — lexicographic string order would mis-sort "9." after "10.").
  * The driver tables carry no addresses, so [[withDerivedIp]] derives a
  * deterministic IPv4 per key from the md5-60 hash family, the same
  * cross-engine pattern as [[Geo.withDerivedCoords]]: the DuckDB oracle
  * recomputes identical addresses, so ip queries hash-check exactly.
  *
  * Scale: [[aton]] is four splits + integer arithmetic — narrow,
  * codegen'd, pushes through any filter; the agg path is the shared
  * conditional-count rangeAgg machinery (one pass, no shuffle beyond the
  * 1-row agg).
  */
object Net {

  /** Deterministic IPv4 (uniform over the full 32-bit space) from `key`.
    * Octets via shift/mask — Column `/` is TRUE division (double), not
    * integer division, so a quotient-remainder formulation would mangle
    * the octet strings. */
  def derivedIp(key: Column): Column = {
    val v = Hashing.md5Long60(concat(lit("ip:"), key.cast("string"))) % 4294967296L
    concat_ws(".",
      shiftright(v, 24).bitwiseAND(lit(255L)).cast("string"),
      shiftright(v, 16).bitwiseAND(lit(255L)).cast("string"),
      shiftright(v, 8).bitwiseAND(lit(255L)).cast("string"),
      v.bitwiseAND(lit(255L)).cast("string"))
  }

  def withDerivedIp(df: DataFrame, key: Column, name: String): DataFrame =
    df.withColumn(name, derivedIp(key))

  /** Dotted-quad string column → numeric value (0 .. 2³²−1). */
  def aton(ip: Column): Column = {
    val p = split(ip, "\\.")
    element_at(p, 1).cast("long") * 16777216L +
      element_at(p, 2).cast("long") * 65536L +
      element_at(p, 3).cast("long") * 256L +
      element_at(p, 4).cast("long")
  }

  /** Driver-side dotted-quad → Long (range-bound construction). */
  def ipToLong(ip: String): Long =
    ip.split('.').foldLeft(0L)((acc, o) => acc * 256L + o.toInt)

  /** CIDR "a.b.c.d/n" → the [first, last+1) numeric interval ES's `mask`
    * form buckets (network base honored: host bits are zeroed first). */
  def cidrRange(cidr: String): (Long, Long) = {
    val Array(base, bits) = cidr.split('/')
    val width = 32 - bits.toInt
    val lo = (ipToLong(base) >> width) << width
    (lo, lo + (1L << width))
  }
}
