package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{BucketPairs, Materialize}

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Baseline: brute-force cosine top-k (query-set broadcast x corpus
  * scan — one pass, no shuffle of the corpus). Scale path: random-
  * hyperplane LSH bucketing so only same-bucket candidates are scored;
  * hyperplanes are derived from a deterministic seeded generator at
  * plan time (no runtime RNG), so results are reproducible.
  *
  * Dot products use the codegen [[graft.functions.ArrayDot]]
  * expression — double math, sequential left-to-right summation,
  * deterministic bit-for-bit (and oracle-portable: DuckDB's
  * list_inner_product matches exactly).
  */
object Similarity {

  /** Cosine similarity of two array<float|double> columns (double math,
    * sequential summation). 0-norm vectors yield null. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b); val na = sqrt(dot(a, a)); val nb = sqrt(dot(b, b))
    when(na > 0.0 && nb > 0.0, d / (na * nb))
  }

  /** Dot product with sequential (deterministic) summation — the
    * codegen [[graft.functions.ArrayDot]] expression (the composed
    * zip_with+aggregate form is interpreted and allocates per row). */
  def dot(x: Column, y: Column): Column =
    graft.functions.ArrayDot.dot(x, y)

  /** Bounded top-k cut per query by (cos DESC nulls last, n_id ASC):
    * map-side k-heaps, then explode to (q_id, rank, n_id, cos) — the
    * exchange moves ≤ |Q|·k·partitions rows instead of every scored
    * pair (see [[graft.functions.TopK]]). Cosine is bounded in
    * [−1, 1] so +Inf is a strict nulls-last sentinel under the
    * ascending key encoding. NaN cosines (possible only from NaN/Inf
    * embedding components — zero norms already map to null) are
    * normalised to null via `nanvl` BEFORE key encoding, so they rank
    * last like nulls; this is a deliberate, documented divergence from
    * a plain `cos DESC` window, where Spark sorts NaN greatest and
    * would rank NaN rows FIRST. For NaN-free corpora (the supported
    * contract everywhere else in this family) the cut is
    * hash-identical to the row_number form used through r15. */
  private[sim] def topKCut(scored: DataFrame, k: Int): DataFrame = {
    val cleaned = scored.withColumn("cos", nanvl(col("cos"), lit(null)))
    graft.functions.TopK.perQueryCut(cleaned, k,
      coalesce(-col("cos"), lit(Double.PositiveInfinity)), "cos")
  }

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      roundScale: Int = 6): DataFrame = {
    val p = math.pow(10.0, roundScale)
    // Precompute norms per row (not per pair): the pair stage then does
    // exactly one dot product — 3x less array work on the hot path.
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", sqrt(dot(col("q_vec"), col("q_vec"))))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("n_norm", sqrt(dot(col("n_vec"), col("n_vec"))))
    val scored = broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos",
        floor(when(col("q_norm") > 0.0 && col("n_norm") > 0.0,
          dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
          * p + 0.5) / p)
    topKCut(scored, k)
  }

  /** Deterministic random hyperplanes: `planes` rows of `dim` values in
    * {-1,+1}, from a fixed-seed generator (driver-side, plan constant). */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(planes, dim)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** Random-hyperplane LSH bucket id: bit p set iff dot(vec, plane_p)
    * >= 0. Vectors in the same bucket are candidate neighbors. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.toIndexedSeq.map(lit): _*)
      val d = dot(vec, planeCol)
      when(d >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Per-band LSH keys: bands × rowsPerBand hyperplanes; band b's key
    * packs the sign bits of its rowsPerBand planes. Two vectors are
    * candidates iff they share a key in ANY band (OR-amplification —
    * recall rises with bands, candidate volume with key collisions). */
  def bandKeys(vec: Column, planes: Array[Array[Double]], bands: Int,
      rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        (0 until rowsPerBand).map { r =>
          val plane = array(planes(b * rowsPerBand + r).toIndexedSeq.map(lit): _*)
          when(dot(vec, plane) >= 0.0, lit(1L << r)).otherwise(lit(0L))
        }.reduce(_ + _).as("key"))
    }: _*)

  /** Embedding-cosine near-duplicate pairs: banded random-hyperplane
    * LSH prunes the pair space (same key in ≥1 band), then candidates
    * are rescored with exact cosine and thresholded. The scale path
    * for corpus dedup by embedding: the corpus is never cross-joined,
    * only same-key slivers meet in the equi-join; dedup the multi-band
    * collisions AFTER scoring so each candidate pair is shuffled once.
    * Cosine is rounded to `roundScale` decimals before the threshold
    * so the cut is reproducible across engines.
    *
    * Defaults are the corpus-scale shape: 16 sign bits per band give
    * 65536 distinct keys per band (expected in-bucket work O(n²/2¹⁶)
    * per band before the cap), 8 bands for recall ≈ 1−(1−p¹⁶)⁸ — at
    * cosine 0.95 about 0.8. For small dense demo corpora where most
    * pairs should collide, pass wider buckets (e.g. bands=4,
    * rowsPerBand=4). `maxBucketSize` drops any residual degenerate
    * bucket (e.g. the all-zero region of the embedding space) before
    * the self-join, so candidate volume stays ≤ bands·cap·n. */
  def cosineNearDupPairs(df: DataFrame, threshold: Double,
      bands: Int = 8, rowsPerBand: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64, seed: Long = 42L,
      roundScale: Int = 6, maxBucketSize: Long = 100000L): DataFrame = {
    val p = math.pow(10.0, roundScale)
    val hp = hyperplanes(bands * rowsPerBand, dim, seed)
    // All band keys come from ONE fused codegen loop
    // (HyperplaneBits) — the composed per-plane expression tree is
    // O(planes·dim) literal nodes and falls out of codegen at the
    // 128-plane scale default. posexplode supplies the band ordinal.
    // Checkpointed: the banded sliver feeds both sides of the
    // self-join, and its hyperplane-expression lineage stays out of
    // the join plan.
    val banded = Materialize.checkpoint(df
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("norm", sqrt(dot(col("vec"), col("vec"))))
      .select(col("id"), col("vec"), col("norm"),
        posexplode(graft.functions.HyperplaneBits.bandKeys(col("vec"),
          hp.map(_.toIndexedSeq).toIndexedSeq, bands, rowsPerBand))
          .as(Seq("band", "key"))))
    val scored = BucketPairs(banded, Seq("band", "key"), Some(maxBucketSize))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        pairCos(p).as("cos"))
    // threshold BEFORE the multi-band dedup aggregate (r22, guide
    // §2.3 — the q50/q154 band-join shape): cos is a pure function of
    // the pair's vectors, identical in every band-copy, so min() is
    // only a dedup of multi-band hits — below-threshold candidates
    // (most LSH collisions on a real corpus) die before the
    // aggregate's hash table and exchange instead of after it. Null
    // cosines (zero-norm vectors) fail the predicate either way.
    // Result set unchanged (oracle-pinned by q42/q51).
    scored.filter(col("cos") >= threshold)
      .groupBy("id_a", "id_b").agg(min("cos").as("cos"))
  }

  /** IVF (inverted-file) ANN: the corpus is coarse-quantized into
    * lists by nearest centroid; a query scores only the rows of its
    * `nProbe` nearest lists, so corpus work per query drops from N to
    * ~N·nProbe/C. Centroids are a deterministic id-modulo sample of
    * `numCentroids` corpus rows (no RNG, reproducible plans); swap in
    * k-means centroids for better list balance without touching the
    * dataflow. The centroid set must stay broadcast-small (its
    * assignment join is a broadcast against the full corpus — the
    * 100 TB side never shuffles for it), which is why the COUNT is the
    * parameter: a fixed stride would grow |C| linearly with the
    * corpus and break that invariant.
    *
    * Ranking everywhere on (rounded cosine DESC, id ASC) — total
    * order, engine-portable. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numCentroids: Int = 256, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      roundScale: Int = 6, centroidStride: Long = 0L): DataFrame = {
    // Centroid COUNT is the invariant, not the stride: |C| must stay
    // broadcast-small however big the corpus grows, so the stride is
    // derived from the corpus size (one cheap metadata-backed count)
    // unless the caller pins it. The id-modulo sample stays fully
    // deterministic and oracle-expressible (`id % stride = 0`).
    val stride =
      if (centroidStride > 0L) centroidStride
      else math.max(1L, corpus.count() / math.max(1, numCentroids))
    val cent = corpus.filter(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
    ivfTopKWithCentroids(queries, corpus, k, cent, nProbe, idCol,
      vecCol, roundScale)
  }

  /** IVF with a caller-supplied coarse quantizer — e.g.
    * [[kmeansCentroids]] output — `centroids` = (id, vector) in its
    * first two columns. Same dataflow as [[ivfTopK]]: the centroid
    * frame is broadcast against corpus and queries; the big side
    * never shuffles for the assignment. */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame, k: Int,
      centroids: DataFrame, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      roundScale: Int = 6): DataFrame = {
    val p = math.pow(10.0, roundScale)
    def rcos(v: Column, nv: Column, c: Column, nc: Column): Column =
      floor(when(nv > 0.0 && nc > 0.0, dot(v, c) / (nv * nc))
        * p + 0.5) / p
    // Coarse quantization runs as ONE fused codegen expression per
    // row ([[graft.functions.NearestCentroids]]), with the centroid
    // matrix embedded in the plan: the centroid set is
    // broadcast-small BY INVARIANT (the contract documented on
    // [[ivfTopK]]), so collecting it here is bounded — and the
    // N-row corpus never joins, aggregates, or copies its embedding
    // for the assignment at all. The earlier dataflow form
    // (crossJoin(broadcast) + map-side max_by) shuffled only N rows
    // but MATERIALIZED N×C joined rows; the factor-100 scale smoke
    // measured it at ~30 µs per assignment row (2,600 task-seconds,
    // 282 GC-seconds for 200k×447) — all array-copy churn, removed
    // by this expression.
    val cCols = centroids.columns
    val centRows = centroids
      .select(col(cCols(0)).cast("long").as("c_id"),
        col(cCols(1)).cast("array<double>").as("c_vec"))
      .collect()
    if (centRows.isEmpty) {
      // an empty quantizer probes nothing — same result the join
      // dataflow produced, kept as an explicit empty frame
      return queries.select(col(idCol).as("q_id"), lit(1).as("rank"),
        col(idCol).as("n_id"), lit(0.0).as("cos")).limit(0)
    }
    val cIds = centRows.map(_.getLong(0)).toSeq
    val cVecs = centRows.map(_.getSeq[Double](1)).toSeq
    def nearest(vec: Column, n: Int): Column =
      graft.functions.NearestCentroids.topIds(vec, cIds, cVecs, n,
        roundScale)
    val lists = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("n_norm", sqrt(dot(col("n_vec"), col("n_vec"))))
      .withColumn("list_id", element_at(nearest(col("n_vec"), 1), 1))
    // probe: each query scores its nProbe nearest centroid lists
    val probes = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", sqrt(dot(col("q_vec"), col("q_vec"))))
      .withColumn("list_id", explode(nearest(col("q_vec"), nProbe)))
    topKCut(probes.join(lists.hint("merge"), "list_id")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        rcos(col("q_vec"), col("q_norm"), col("n_vec"), col("n_norm"))),
      k)
  }

  /** Deterministic Lloyd refinement for IVF coarse quantizers: start
    * from the id-modulo sample (the same seed [[ivfTopK]] uses) and
    * run `iters` assignment/mean rounds — per-row fused argmin over
    * the plan-embedded centroid matrix
    * ([[graft.functions.NearestCentroids]] with the squared-distance
    * metric, same rationale as the [[ivfTopKWithCentroids]]
    * assignment: the centroid set is driver-bounded by contract, and
    * the fused loop replaces an N×C-materializing
    * crossJoin+`max_by` round), then one groupBy mean per round. The
    * argmin key 2·dot(v,c) − |c|² is IEEE-bit-identical (negation is
    * exact and round-to-nearest is sign-symmetric) to the previous
    * dataflow's argmin over dot(v,c)·(−2) + dot(c,c), so assignments
    * are unchanged. No RNG anywhere: the SEED set
    * is a plan constant, and the refinement is reproducible up to
    * floating-point summation order in the distributed means (ULP-
    * level variation across different partitionings can flip a
    * boundary vector's list — use the raw id-modulo quantizer, not
    * this, wherever bit-exact replication matters). Returns
    * (centroid_id, centroid) with centroid_id = the 0-based index of
    * the cluster (dense, stable ordering by seed id).
    *
    * Balance matters at scale: modulo-sampled centroids inherit the
    * corpus density, so popular regions get oversized lists (probe
    * cost ∝ list size). A couple of Lloyd rounds evens list
    * occupancy without touching the ivf dataflow — pass the result
    * as a pre-built centroid frame to a custom IVF assembly, or use
    * it to pick a better `centroidStride` seed set. */
  def kmeansCentroids(corpus: DataFrame, numCentroids: Int, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = corpus.count()
    val stride = math.max(1L, n / math.max(1, numCentroids))
    val vecs = Materialize.checkpoint(corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec")))
    var cent = vecs.filter(pmod(col("id"), lit(stride)) === 0)
      .orderBy("id").select(col("vec").as("c_vec")).collect()
      .map(_.getSeq[Double](0).toArray)
    for (_ <- 0 until iters) {
      val cIds = cent.indices.map(_.toLong)
      val cVecs = cent.map(_.toSeq).toSeq
      val assigned = vecs.withColumn("c_id", element_at(
        graft.functions.NearestCentroids.topIdsSqDist(
          col("vec"), cIds, cVecs, 1), 1).cast("int"))
      val means = assigned
        .select(col("c_id"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy("c_id", "pos").agg(avg("x").as("m"))
        .groupBy("c_id").agg(array_sort(collect_list(struct(col("pos"),
          col("m")))).as("pm"))
        .select(col("c_id"), expr("transform(pm, e -> e.m)").as("c_vec"))
        .orderBy("c_id").collect()
      val byId = means.map(r =>
        r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      cent = cent.indices.map(i => byId.getOrElse(i, cent(i))).toArray
    }
    cent.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("centroid_id", "centroid")
  }

  /** Rounded cosine of a [[BucketPairs]] pair, from the `vec` and
    * `norm` columns of its `a` and `b` sides (`p` = 10^roundScale). */
  private def pairCos(p: Double): Column =
    floor(when(col("a.norm") > 0.0 && col("b.norm") > 0.0,
      dot(col("a.vec"), col("b.vec")) / (col("a.norm") * col("b.norm")))
      * p + 0.5) / p

  /** Plane count for [[lshTopK]] when the caller doesn't pin one:
    * grows with corpus size so the expected bucket occupancy stays
    * ~`targetBucket` (in-bucket work O(n·targetBucket), not O(n²/2^c)
    * for a constant c). Floor of 8 keeps small corpora from
    * degenerating into a handful of buckets with no selectivity. */
  def autoPlanes(n: Long, targetBucket: Long = 1000L): Int =
    math.max(8, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)
    ).toInt)

  /** LSH-bucketed ANN: score only same-bucket pairs. Trades recall for
    * a corpus-sized equi-join instead of a cross join — the 100 TB
    * path. Bucket count 2^planes; `planes = 0` (default) derives
    * planes from the corpus size via [[autoPlanes]] so bucket
    * occupancy — and with it the in-bucket quadratic term — stays
    * bounded as the corpus grows. `maxBucketSize` drops any residual
    * oversize bucket before the self-join. Each bucket pair is scored
    * once and mirrored into both queries' candidate lists: cosine is
    * symmetric bit for bit (the products commute and the sum runs in
    * the same order). */
  def lshTopK(df: DataFrame, k: Int, planes: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, roundScale: Int = 6,
      maxBucketSize: Long = 100000L): DataFrame = {
    val p = math.pow(10.0, roundScale)
    val nPlanes = if (planes > 0) planes else autoPlanes(df.count())
    val hp = hyperplanes(nPlanes, dim)
    // single-band HyperplaneBits: the bucket id is band 0's key
    val bucketed = Materialize.checkpoint(
      df.select(col(idCol).as("id"), col(vecCol).as("vec"))
        .withColumn("bucket", element_at(
          graft.functions.HyperplaneBits.bandKeys(col("vec"),
            hp.map(_.toIndexedSeq).toIndexedSeq, 1, nPlanes), 1))
        .withColumn("norm", sqrt(dot(col("vec"), col("vec")))))
    val pairs = BucketPairs(bucketed, Seq("bucket"), Some(maxBucketSize))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        pairCos(p).as("cos"))
      // cos is projected before the explode: once per pair, not per copy
      .select(explode(array(
          struct(col("id_a").as("q_id"), col("id_b").as("n_id")),
          struct(col("id_b").as("q_id"), col("id_a").as("n_id")))).as("qn"),
        col("cos"))
      .select(col("qn.q_id").as("q_id"), col("qn.n_id").as("n_id"),
        col("cos"))
    // column order as the historical window form (q_id, n_id, cos, rank)
    topKCut(pairs, k).select("q_id", "n_id", "cos", "rank")
  }
}
