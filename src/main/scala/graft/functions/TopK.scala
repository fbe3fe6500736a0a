package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Bounded top-k as an AGGREGATE, not a window.
  *
  * The retrieval family's original shape — `row_number() OVER
  * (PARTITION BY q_id ORDER BY score)` then `rank <= k` — is exact,
  * and (measured, BENCH_NOTES "Round 16: bounded top-k aggregate
  * A/B") NOT as bad as it reads:
  * Spark's `InferWindowGroupLimit` (3.5+) recognizes the
  * rank-then-filter pattern and inserts a partial
  * `WindowGroupLimit` BEFORE the exchange, so the window form
  * already moved |Q|·k·partitions rows, not the naive |Q|·N the r15
  * VERDICT assumed. The bounded-heap aggregate still improves on
  * it: partial aggregation packs each map task's k survivors into
  * ONE buffer row per query, so the exchange moves |Q|·partitions
  * ROWS (k entries each — 10× fewer exchange rows at k=10, measured
  * 64,001 → 6,401 at f100), skips the per-group sort the window
  * runs on the reduce side, and cut wall 4% (cosine) / 29%
  * (Hamming) on the f100 A/B with bit-identical output. Spark ships
  * the aggregate (`CollectTopK`, the engine behind ml's prediction
  * top-k); this wrapper only binds the ordering convention the
  * retrieval operators share.
  *
  * Convention: `key` is a STRUCT whose fields compare
  * lexicographically ASCENDING (the InterpretedOrdering struct
  * order), nulls first per field; the caller encodes direction into
  * the fields (e.g. descending cosine with nulls last =
  * `coalesce(-cos, +Inf)` ascending) and MUST include a unique
  * tiebreak field (e.g. the neighbor id) so the kept set — and with
  * it the result hash — is a total order, not a heap accident.
  * Payload fields ride behind the tiebreak (never consulted by the
  * comparator). The result array is sorted ascending, best first, so
  * `posexplode` yields `rank = pos + 1` directly.
  */
object TopK {

  /** The k smallest `key` structs of the group, sorted ascending
    * (best first). Exact — see the ordering convention above. */
  def smallestK(key: Column, k: Int): Column = {
    require(k >= 1, s"k=$k")
    ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.aggregate
        .GraftTopKBridge.collectTopK(
          ColumnBridge.expression(key), k, reverse = true))
  }

  /** The retrieval family's shared cut: group `scored` by `q_id`,
    * keep the k best rows per query under (`sortKey` ASC, `n_id`
    * ASC), explode back to (q_id, rank, n_id, `valCol`) with the int
    * `rank` the row_number window form produced. `sortKey` encodes
    * the caller's direction and null placement (e.g. cosine DESC
    * nulls last = `coalesce(-cos, +Inf)`; a plain ascending distance
    * passes through, inheriting nulls-first — the `.asc` window
    * default); `n_id` must be unique per query so the kept set is a
    * total order. */
  def perQueryCut(scored: org.apache.spark.sql.DataFrame, k: Int,
      sortKey: Column, valCol: String): org.apache.spark.sql.DataFrame =
    scored.groupBy("q_id")
      .agg(smallestK(struct(sortKey.as("s"), col("n_id"),
        col(valCol).as("v")), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + lit(1)).cast("int").as("rank"),
        col("t.n_id").as("n_id"), col("t.v").as(valCol))
}
