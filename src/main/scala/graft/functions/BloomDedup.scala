package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftx.GraftSqlBridge

/** Bloom-filter membership pre-filter (SURVEY §2.L surface; the C4
  * scale pattern): expose Spark's OWN runtime-filter machinery —
  * `BloomFilterAggregate` (a commutative OR-merge monoid: partial
  * per-mapper bitsets union across any partitioning) and
  * `BloomFilterMightContain` (codegen'd probe) — as DataFrame columns,
  * keyed by xxhash64 exactly like `InjectRuntimeFilter` does.
  *
  * Why: at 100 TB the exact hash join of a daily batch against a
  * historical dedup index shuffles the index every run. A Bloom bitset
  * over the index keys is a few MB broadcast; rows whose key is
  * DEFINITELY absent (the common case for fresh crawl data) skip the
  * join entirely, and only possible members pay the exact confirmation
  * join. The bloom has NO false negatives, so the final verdicts are
  * bit-identical to the exact join — false positives merely take the
  * slow path and come back NULL. The filter is therefore invisible to
  * the DuckDB oracle: `bloom_prefilter_dedup` shares
  * `incremental_dedup_index`'s oracle verbatim.
  *
  * Determinism note: the bitset itself is deterministic (fixed xxhash64
  * seed, OR-merge is order-free) but engine-specific — which is why the
  * declared output carries only exact-join-derived columns; the
  * pre-filter selectivity and the no-false-negative law are pinned in
  * CorpusDedupSpec, not the oracle.
  */
object BloomDedup {
  /** The aggregate bitset of xxhash64(`key`) over a group, sized for
    * `items` keys in `bits` bits.
    */
  def agg(key: Column, items: Long, bits: Long): Column =
    GraftSqlBridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(GraftSqlBridge.expression(key))),
      Literal(items), Literal(bits)).toAggregateExpression())

  /** Whether `key` may be in the bitset `bf` (a literal or a scalar
    * subquery, e.g. `Dataset.scalar()` over an [[agg]]).
    */
  def mightContain(bf: Column, key: Column): Column =
    GraftSqlBridge.column(BloomFilterMightContain(GraftSqlBridge.expression(bf),
      new XxHash64(Seq(GraftSqlBridge.expression(key)))))
}
