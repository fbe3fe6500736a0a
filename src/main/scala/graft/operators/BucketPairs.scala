package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one bucket self-join. Every near-duplicate tier buckets its
  * rows under key columns (a shingle, a MinHash or hyperplane band
  * key, a SimHash or dHash band word, a frame hash) and pairs rows
  * that share a bucket; pigeonhole banding (Manku et al., WWW 2007)
  * is why most key on (band, key). A caller keeps its keys, score,
  * threshold and multi-band dedup aggregate; this object decides:
  *
  *   - the CAP: a bucket of m rows yields m² pairs, so one degenerate
  *     key (a stopword shingle, a boilerplate band, an intro frame)
  *     can dominate the join. A capped bucket keeps 2 ≤ n ≤ cap rows
  *     (a singleton never pairs, so dropping it changes no result).
  *     n is ONE `count(*)` window over the bucket key, which sorts on
  *     the very key the merge join needs, so the capped frame
  *     re-exchanges nothing; the groupBy plus pinned semi-join it
  *     replaced paid two or three more exchanges. Window work per
  *     bucket is row-linear (`tools/HotKeyCapSmoke` runs a 10⁶-row
  *     bucket through it). No cap, no window.
  *   - the SELF-JOIN: merge-pinned (spillable, AQE-skew-splittable,
  *     never an estimate-driven broadcast of a corpus-derived side),
  *     each pair once with `a.id < b.id`.
  *   - the REPORT: [[hot]] counts the same buckets over the same keys,
  *     so a drop report says exactly what the cap dropped.
  *
  * `BucketPairsSpec` checks it against brute force at several
  * partition counts. */
private[graft] object BucketPairs {

  /** Pairs of `bucketed` rows sharing every column of `keys`, each
    * pair once with `a.<id> < b.<id>`: a frame over the aliases `a`
    * and `b`, read as `a.<col>` / `b.<col>`. With a `cap`, only
    * buckets of 2..cap rows pair. `stage` runs on the capped rows
    * before they feed both join sides (`Materialize.checkpoint(_)`
    * to store them once). */
  def apply(bucketed: DataFrame, keys: Seq[String],
      cap: Option[Long] = None, id: String = "id",
      stage: DataFrame => DataFrame = identity): DataFrame = {
    val b = stage(cap.fold(bucketed)(c =>
      bucketed.withColumn("__n", count(lit(1)).over(
          Window.partitionBy(keys.map(col): _*)))
        .filter(col("__n") >= 2L && col("__n") <= c)
        .drop("__n")))
    b.as("a").join(b.as("b").hint("merge"),
      keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
        && col(s"a.$id") < col(s"b.$id"))
  }

  /** The buckets a `cap` drops as hot: `keys` plus their row count
    * `n`, one row per bucket of more than `cap` rows. */
  def hot(bucketed: DataFrame, keys: Seq[String], cap: Long): DataFrame =
    bucketed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)
}
