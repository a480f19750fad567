package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DotProduct, LshFunctions}

/** Session extensions: the production registration path for graft's
  * custom Catalyst expressions — installed once at session build
  * (`GraftSession.builder` calls `withExtensions`), so `graft_dot` is
  * available to every SQL string and `call_function` without the
  * per-call temp-function fallback in [[graft.functions.VectorFunctions]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // interleaves with the operator-optimization fixpoint (runs after
    // filters are pushed through the ts-conversion projection), so the
    // rewritten raw-long comparison reaches the parquet scan
    e.injectOptimizerRule(_ => NanosTimePushdown)
    // once, after filters reach the scan and before the scan is planned:
    // derives TableStore date-partition bounds from timestamp bounds
    e.injectPreCBORule(_ => TimePartitionPrune)
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          s"graft_dot expects 2 arguments (array<double>, array<double>), got ${exprs.length}")
        DotProduct(exprs(0), exprs(1))
      }))
    e.injectFunction((
      FunctionIdentifier("graft_lsh_sigs"),
      new ExpressionInfo(classOf[graft.functions.HyperplaneSigs].getName, "graft_lsh_sigs"),
      LshFunctions.fromExprs _))
    // graft_secret_key is deliberately ABSENT from this registry: a
    // SQL-callable key accessor would let any SELECT-level principal
    // exfiltrate raw AES key bytes (ids are sequential) or decrypt
    // encrypted columns inline. FieldEncryption builds the key Column
    // directly from the SecretKeyBytes expression instead.
    e.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[graft.functions.MinHashSigs].getName, "graft_minhash"),
      LshFunctions.minhashFromExprs _))
    e.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[graft.functions.SimHashSig].getName, "graft_simhash"),
      LshFunctions.simhashFromExprs _))
    e.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[graft.functions.HashedShingles].getName, "graft_shingles"),
      LshFunctions.shinglesFromExprs _))
    // Spark ships a distributed bloom build + codegen'd membership probe
    // (the machinery behind its own runtime row-level filters) but keeps
    // both internal-only. Exposing them under graft names gives the
    // decontamination family a scan-local prune whose BUILD is a normal
    // partial→final aggregate — no driver-side item loop like
    // DataFrameStatFunctions.bloomFilter's collect-and-insert path.
    e.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 3,
          s"graft_bloom_agg expects (xxhash64 value, est items, num bits), got ${exprs.length}")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2))
      }))
    e.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          s"graft_might_contain expects (bloom bytes, xxhash64 value), got ${exprs.length}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))
      }))
  }
}
