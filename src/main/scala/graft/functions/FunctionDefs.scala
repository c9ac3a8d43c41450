package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** The ONE list of graft's SQL-callable Catalyst expressions — shared by
  * the in-session registration path ([[DotQ.register]] /
  * [[HashSketch.register]], which query code calls lazily) and the
  * [[graft.GraftExtensions]] `spark.sql.extensions` injector, so the
  * two surfaces cannot drift: a function added here is simultaneously
  * available to library callers and to pure-SQL sessions configured
  * with the extension class. */
object FunctionDefs {

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dotq" -> (e => DotQ(e(0), e(1))),
    "simhash_bits" -> (e => SimHashBits(e(0), e(1))),
    "minhash_sig" -> (e => MinHashSig(e(0), e(1))),
    "shingle_seq" -> (e => ShingleSeq(e(0), e(1))),
    "winnow_set" -> (e => WinnowSet(e(0), e(1))),
    "lsh_sig" -> (e => LshSig(e(0), e(1), e(2))),
    "token_hash_seq" -> (e => TokenHashSeq(e(0), e(1), e(2))),
    // Spark's runtime-filter bloom expressions surfaced as callable
    // functions (catalyst has them; the public registry does not) — see
    // the sizing/constant-sketch contract documented at the d12 call
    // site. The optional second argument sizes the sketch to the real
    // item count.
    "graft_bloom_agg" -> (e =>
      if (e.length >= 2)
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(e(0), e(1))
      else
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(e(0))),
    "graft_bloom_contains" -> (e =>
      org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(e(0), e(1))))

  /** Register every function on an EXISTING session (temp-function
    * registry; idempotent). Query builders call this on every
    * construction, so names the session already has (an earlier call, or
    * the extension injector) are left as they are, not replaced. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
