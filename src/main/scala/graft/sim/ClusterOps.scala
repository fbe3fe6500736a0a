package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Corpus clustering over an embedding column — deterministic Lloyd
  * k-means for curation workloads (cluster-balanced mixing à la
  * DoReMi-style domain reweighting, cluster-stratified sampling, and
  * the coarse stage of cluster-then-dedup pipelines).
  *
  * The classic failure mode of distributed k-means is nondeterminism:
  * double-precision centroid sums change with partition order, so two
  * runs (or two engines) disagree on boundary points and the cluster
  * assignment is not reproducible. This implementation is EXACT and
  * order-invariant end to end:
  *
  *   - vectors quantize once to positive BIGINT micro-units
  *     (`floor(x·2^scaleBits + 0.5) + 2^(scaleBits+1)` — the repo's
  *     portable floor-round; the offset keeps every value positive so
  *     truncating and flooring integer division coincide on every
  *     engine);
  *   - assignment distance is L1 in micro-units — an exact BIGINT sum,
  *     invariant under summation order, no doubles anywhere in the
  *     loop; ties break to the smallest cluster index;
  *   - the centroid update is an exact BIGINT sum + count per
  *     dimension, floor-rounded back to micro-units as
  *     `(2s + n) div (2n)` — so the centroid STATE is integers too and
  *     iteration t+1 sees bit-identical centroids regardless of
  *     partitioning, executor count, or engine. Quantizing the
  *     centroid costs at most half a micro-unit per dimension —
  *     identical on every engine, which is the point.
  *
  * Scale shape: the quantized substrate is checkpointed once and
  * scanned `iters+1` times; assignment is NARROW (per-row k·d lambda
  * arithmetic against a broadcast centroid literal — the corpus never
  * shuffles to learn its cluster); the update is one
  * posexplode→groupBy(cluster, dim) shuffle per iteration whose
  * map-side combine reduces traffic to partitions × k × d rows and
  * whose driver collect is exactly k·d rows — both parameter-bounded.
  * k and d are plan-literal, so keep k·d in the ~10⁴ band (the IVF
  * contract: the centroid table is the one small side by
  * construction). An empty cluster keeps its previous centroid.
  *
  * Reference behavior context: the reference has no clustering
  * operator; this extends the curation family around
  * [[SemDedup.semDedup]] (which coarse-quantizes against FIXED
  * stride-sampled centroids) with learned centroids.
  *
  * Returns one row per input: (idCol, cluster, dist) where `cluster`
  * is the argmin against the centroids AFTER `iters` updates and
  * `dist` is that exact L1 distance in micro-units. */
object ClusterOps {

  /** One assignment pass: argmin-by-L1 against a literal centroid
    * matrix. Staged projections (dists → min → position) so each
    * array is computed once — higher-order-function lambdas have no
    * common-subexpression elimination, and every stage below keeps
    * ≥2 references to its input attribute so CollapseProject cannot
    * re-inline the k·d arithmetic into the next lambda. */
  private def assign(q: DataFrame, m: Array[Array[Long]]): DataFrame = {
    val cents = array(m.map(c => array(c.map(lit(_)).toIndexedSeq: _*))
      .toIndexedSeq: _*)
    q.select(col("id"), col("qv"),
        transform(cents, c =>
          aggregate(zip_with(col("qv"), c, (a, b) => abs(a - b)),
            lit(0L), (acc, x) => acc + x)).as("dists"))
      .select(col("id"), col("qv"), col("dists"),
        array_min(col("dists")).as("dist"))
      .select(col("id"), col("qv"), col("dist"),
        (array_position(col("dists"), col("dist")) - 1).cast("int")
          .as("cluster"))
  }

  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 3, scaleBits: Int = 20): DataFrame = {
    require(k >= 1 && iters >= 0 && scaleBits >= 1 && scaleBits <= 30,
      s"k=$k iters=$iters scaleBits=$scaleBits")
    val scale  = (1L << scaleBits).toDouble
    val offset = 1L << (scaleBits + 1)
    val q = Materialize.checkpoint(df.select(
      col(idCol).cast("long").as("id"),
      transform(col(vecCol), x =>
        floor(x.cast("double") * lit(scale) + lit(0.5d)) + lit(offset))
        .as("qv")))

    // Init: the k smallest-id vectors — a deterministic, engine-
    // independent seed (k is the parameter bounding this collect).
    var m: Array[Array[Long]] = q.orderBy(col("id")).limit(k).collect()
      .map(_.getSeq[Long](1).toArray)
    require(m.nonEmpty, "kmeansAssign: empty input")

    for (_ <- 1 to iters) {
      val stats = assign(q, m)
        .select(col("cluster"), posexplode(col("qv")).as(Seq("dim", "v")))
        .groupBy("cluster", "dim")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      m = m.zipWithIndex.map { case (old, c) =>
        if (!stats.contains((c, 0))) old // empty cluster: keep centroid
        else old.indices.map { i =>
          val (s, n) = stats((c, i))
          (2 * s + n) / (2 * n) // all-positive: floor == truncate
        }.toArray
      }
    }
    assign(q, m).select(col("id").as(idCol), col("cluster"), col("dist"))
  }
}
