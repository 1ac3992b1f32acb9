package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Bridge

/** Public `Column`-level API for graft's custom Catalyst aggregates.
  *
  * Mirrors the style of `org.apache.spark.sql.functions` — every custom
  * expression is exposed as a plain function returning a `Column`, so user
  * code never imports catalyst internals.
  */
object api {

  /** Size-capped collect_list — bounded-memory error/sample dumps. */
  def collect_list_limit(c: Column, limit: Int): Column =
    Bridge.column(CollectListLimit(Bridge.expression(c), limit)
      .toAggregateExpression())

  /** Approximate top-N most frequent values:
    * `array<struct<value:string,frequency:double>>`. Exact when the column
    * cardinality fits in `maxMapSize`.
    */
  def top_n_sketch(c: Column, n: Int, maxMapSize: Int = 1024): Column =
    Bridge.column(TopNSketch(Bridge.expression(c), n, maxMapSize)
      .toAggregateExpression())

  /** Bounded per-group top-k of (score, id) pairs — a size-k heap with
    * map-side partial merge: `array<struct<id:long,score:double>>`,
    * best-first (score desc, id asc). */
  def top_k_pairs(score: Column, id: Column, k: Int): Column =
    Bridge.column(TopKPairs(Bridge.expression(score), Bridge.expression(id), k)
      .toAggregateExpression())

  /** All MinHash lane minima of the group in one pass:
    * `array<long>` of length `lanes` (lane i = min of xxh64(h, seed=i)). */
  def min_hash_lanes(c: Column, lanes: Int): Column =
    Bridge.column(MinHashLanesAgg(Bridge.expression(c), lanes)
      .toAggregateExpression())

  /** The k smallest DISTINCT longs of the group, sorted ascending — exact
    * distinct set below k, Broder bottom-k set sketch above it; buffer
    * memory bounded by k regardless of group skew. */
  def bottom_k_distinct(c: Column, k: Int): Column =
    Bridge.column(BottomKDistinct(Bridge.expression(c), k)
      .toAggregateExpression())
}
