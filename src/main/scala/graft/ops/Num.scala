package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.floor

/** Cross-engine numeric stabilization.
  *
  * `round()` is NOT portable between Spark and DuckDB on doubles: Spark
  * rounds the shortest decimal representation (BigDecimal HALF_UP) while
  * DuckDB rounds the binary value (std::round(x*10^dp)/10^dp), and they
  * disagree whenever the true value sits on a .5 tie whose double is just
  * below it (e.g. interpolated 2dp money at f=0.5 — found via q29).
  * floor(x*10^dp)/10^dp runs the identical IEEE ops on identical doubles
  * in both engines, so results are bit-equal by construction.
  */
object Num {
  def floorAt(c: Column, dp: Int): Column = {
    require(dp >= 0, s"floorAt requires dp >= 0, got $dp")
    val p = math.pow(10, dp)
    floor(c * p) / p
  }

  /** [[floorAt]] evaluated on a plain JVM double, bit-identical to
    * Spark: Spark's `floor(double)` returns BIGINT, so the floored value
    * passes through a `(long)` cast before the divide — NaN floors to
    * 0.0 and ±Inf or |x·10^dp| ≥ 2^63 saturate at ±(2^63−1)/10^dp. For
    * typed code that must match a Spark-side [[floorAt]] exactly.
    */
  def floorAtLong(x: Double, dp: Int): Double = {
    require(dp >= 0, s"floorAtLong requires dp >= 0, got $dp")
    val p = math.pow(10, dp)
    math.floor(x * p).toLong.toDouble / p
  }

  /** The DuckDB oracle's [[floorAtSql]] on a plain JVM double: DuckDB's
    * `floor(double)` keeps the double, so NaN and ±Inf pass through.
    * Agrees with [[floorAt]] (and [[floorAtLong]]) on every finite
    * |x·10^dp| < 2^63; typed-Dataset code paths whose oracle is DuckDB
    * use it.
    */
  def floorDouble(x: Double, dp: Int): Double = {
    require(dp >= 0, s"floorDouble requires dp >= 0, got $dp")
    val p = math.pow(10, dp)
    math.floor(x * p) / p
  }

  /** The DuckDB expression mirroring [[floorAt]]. */
  def floorAtSql(expr: String, dp: Int): String = {
    require(dp >= 0, s"floorAtSql requires dp >= 0, got $dp")
    val p = BigDecimal(math.pow(10, dp)).toBigInt
    s"floor(($expr) * $p) / $p"
  }
}
