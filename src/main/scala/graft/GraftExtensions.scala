package graft

import graft.functions.{ArrayDotProduct, ArrayEqCount, ArrayL2Sq,
  CommonPrefixLength, NfcNormalize, RollingHash64}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension wiring — the idiomatic injection point for the
  * engine's native Catalyst expressions, so every session built by
  * [[GraftSession]] (which sets `spark.sql.extensions` to this class)
  * gets `common_prefix_length(a, b)` in SQL, with codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("common_prefix_length"),
      new ExpressionInfo(classOf[CommonPrefixLength].getName,
        "common_prefix_length"),
      exprs => CommonPrefixLength(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("rolling_hash64"),
      new ExpressionInfo(classOf[RollingHash64].getName, "rolling_hash64"),
      exprs => RollingHash64(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot"),
      exprs => ArrayDotProduct(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("array_l2sq"),
      new ExpressionInfo(classOf[ArrayL2Sq].getName, "array_l2sq"),
      exprs => ArrayL2Sq(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("array_eq_count"),
      new ExpressionInfo(classOf[ArrayEqCount].getName, "array_eq_count"),
      exprs => ArrayEqCount(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      exprs => NfcNormalize(exprs.head)))
    // Spark's OWN runtime-filter machinery, surfaced: the internal
    // bloom_filter_agg / might_contain expressions exist in Catalyst
    // (InjectRuntimeFilter builds them) but are not SQL-registered —
    // injecting them lets the engine build and probe the exact same
    // bloom filters EXPLICITLY, where the automatic rule's 10 GB
    // application-side threshold would never fire (see
    // pipeline_decontaminate_bloom's Scaladoc).
    ext.injectFunction((
      FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate].getName, "bloom_filter_agg"),
      exprs =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain].getName, "might_contain"),
      exprs =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(exprs(0), exprs(1))))
  }
}
