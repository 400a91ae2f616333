package graft.canon

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.Platform

/** Spark bindings for [[UrlCanon]].
  *
  * URL keys are the built-in `xxhash64` (codegen'd, seed 42) of the
  * canonical string; [[urlKeyScala]] reproduces the identical value
  * driver-side (same XXH64 implementation Spark uses) so the engine's seed
  * keys and the oracle's agree with keys computed in the plan.
  */
object CanonUdfs {

  // native-Expression forms — inline into whole-stage codegen (no ScalaUDF
  // dispatch/boxing); see graft.functions.UrlExprs
  private def expr(c: Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)
  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)

  def canon_url(c: Column): Column = col(graft.functions.UrlCanonExpr(expr(c)))
  def url_host(c: Column): Column  = col(graft.functions.UrlHostExpr(expr(c)))

  /** Driver/oracle-side equivalent of `xxhash64(lit(s))` (seed 42). */
  def urlKeyScala(canonical: String): Long = {
    val bytes = canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
  }

  /** Register SQL-callable forms `canon_url(s)` / `url_host(s)`, bound to
    * the native expressions (codegen'd). For registration at session build
    * use `spark.sql.extensions=graft.functions.GraftExtensions` instead.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "canon_url", exprs => graft.functions.UrlCanonExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "url_host", exprs => graft.functions.UrlHostExpr(exprs.head), "scala_udf")
  }
}
