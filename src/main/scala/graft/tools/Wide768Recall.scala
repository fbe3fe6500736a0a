package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** d = 768 recall point for the wide-Hamming ladder (VERDICT r16 ask
  * #7): the f1 sweep runs at the test corpus's d = 64, where 128
  * bits ≈ 2 bits per dimension — flattering to a sign sketch. This
  * harness builds a synthetic-but-CLUSTERED panel at the brief's
  * operating dimensionality (deterministic hash-noise around C
  * hash-generated centers, so runs reproduce bit-for-bit without any
  * RNG state) and scores the binary tier against exact cosine truth:
  * 48/128/256-bit signatures and the 256-bit shortlist→exact-rerank
  * composite. At d = 768 a 256-bit signature carries 1/3 bit per
  * dimension, so THIS table — not the d=64 one — is the honest
  * operating level for the 100 TB sketch tier.
  *
  * Geometry: vector(id) = center(g) + eps · noise(id), g = id mod C,
  * all components uniform hash-noise in [−1, 1] (uniform, not
  * gaussian — recall geometry needs cluster separation, not tail
  * shape). eps sweeps tight/medium/loose so the adjudication shows
  * how sketch recall degrades as within-cluster spread approaches
  * between-cluster distance.
  *
  * Usage: `runMain graft.tools.Wide768Recall [rows] [k] [queries]`
  * (defaults 20000, 10, 200). */
object Wide768Recall {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val nq = args.lift(2).map(_.toInt).getOrElse(200)
    val d = 768
    val clusters = 64
    val spark = graft.GraftSession()

    // uniform [-1, 1] from a 32-bit hash — deterministic plan math
    def u(seed: String, a: org.apache.spark.sql.Column,
        i: org.apache.spark.sql.Column) =
      (pmod(hash(lit(seed), a, i), lit(2000001)) - lit(1000000))
        .cast("double") / 1e6

    def panel(epsNum: Int): DataFrame = {
      val eps = epsNum / 100.0
      spark.range(n.toLong)
        .select(col("id").as("vec_id"),
          pmod(col("id"), lit(clusters.toLong)).as("g"))
        .select(col("vec_id"),
          transform(sequence(lit(1), lit(d)), i =>
            (u("c", col("g"), i) + lit(eps) * u("n", col("vec_id"), i))
              .cast("float")).as("embedding"))
        .repartition(math.max(1,
          spark.sessionState.conf.numShufflePartitions))
        .localCheckpoint(eager = true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

    def meanRecall(name: String, approx: => DataFrame,
        truth: DataFrame, eps: Int): Unit = {
      val r = graft.sim.EvalOps.recallAtK(approx, truth)
        .agg(avg(col("recall_micro")).cast("long").as("mean"),
          min(col("recall_micro")).as("min"),
          count(lit(1)).as("n")).head()
      println(s"""{"recall768":"$name","eps":$eps,""" +
        s""""mean_recall_micro":${r.getLong(0)},""" +
        s""""min_recall_micro":${r.getLong(1)},"queries":${r.getLong(2)}}""")
    }

    // eps 40 = tight clusters, 100 = spread ~ center scale, 200 =
    // noise dominates (near-unclustered worst case)
    Seq(40, 100, 200).foreach { eps =>
      val emb = panel(eps)
      val queries = emb.filter(col("vec_id") < nq.toLong)
        .localCheckpoint(eager = true)
      val truth = graft.sim.Similarity.bruteForceTopK(queries, emb, k)
        .localCheckpoint(eager = true)
      println(s"""{"setup":"recall768","rows":$n,"d":$d,"eps":$eps,""" +
        s""""clusters":$clusters,"queries":$nq,"k":$k}""")
      meanRecall("hamming48",
        graft.sim.HammingOps.hammingTopK(queries,
          graft.sim.HammingOps.encode(emb, "vec_id", "embedding",
            planes = 48, dim = d), k, planes = 48, dim = d),
        truth, eps)
      val enc128 = graft.sim.HammingOps.encodeWide(emb, "vec_id",
        "embedding", planes = 128, dim = d)
      meanRecall("hamming_wide128",
        graft.sim.HammingOps.hammingTopKWide(queries, enc128, k,
          planes = 128, dim = d), truth, eps)
      val enc256 = graft.sim.HammingOps.encodeWide(emb, "vec_id",
        "embedding", planes = 256, dim = d)
      meanRecall("hamming_wide256",
        graft.sim.HammingOps.hammingTopKWide(queries, enc256, k,
          planes = 256, dim = d), truth, eps)
      Seq(4 * k, 40 * k).foreach { sl =>
        meanRecall(s"hamming_rerank256_sl$sl",
          graft.sim.HammingOps.hammingRerankTopK(queries, emb, enc256,
            k, sl, planes = 256, dim = d), truth, eps)
      }
      meanRecall(s"hamming_rerank128_sl${40 * k}",
        graft.sim.HammingOps.hammingRerankTopK(queries, emb, enc128,
          k, 40 * k, planes = 128, dim = d), truth, eps)
      emb.unpersist(); queries.unpersist(); truth.unpersist()
    }
    spark.stop()
  }
}
