package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.Bridge

/** Column builders over Spark's OWN Bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the machinery
  * behind Catalyst's InjectRuntimeFilter), which ship in every Spark
  * distribution but are not exposed in the public function registry.
  * `GraftExtensions` also registers them as `graft_bloom_agg` /
  * `graft_might_contain`, so the membership-sketch path is available to
  * SQL and the Column API without reimplementing a Bloom filter:
  * identical bit layout, hashing, and serialized form as the
  * optimizer's runtime filters.
  *
  * `might_contain` type-checks its filter argument as a constant or
  * scalar subquery only, so the built filter travels as a BINARY
  * LITERAL — a bounded driver-held model artifact, the same pattern as
  * the LM count tables and the PQ codebook. At production scale the
  * filter is built once at ingest and broadcast; Spark's own runtime
  * filters cap at spark.sql.optimizer.runtime.bloomFilter.maxNumBits
  * for the same reason.
  */
object BloomOps {

  /** Aggregate a long/string/binary column into a serialized Bloom
    * filter (`numBits/8` bytes regardless of input size). */
  def bloomAgg(c: Column, estimatedItems: Long, numBits: Long): Column =
    Bridge.column(new BloomFilterAggregate(Bridge.expression(c),
      Literal(estimatedItems), Literal(numBits)).toAggregateExpression())

  /** Probe a driver-held serialized filter. False positives bounded by
    * the numBits/items sizing; false negatives impossible. */
  def mightContain(bloom: Array[Byte], c: Column): Column =
    Bridge.column(BloomFilterMightContain(Literal(bloom), Bridge.expression(c)))
}
