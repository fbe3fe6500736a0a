package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Model-based quality filtering — the "quality classifier" stage of
  * the GPT-3/LLaMA curation recipes (Brown et al. 2020 trained a
  * classifier to score crawl pages against a curated positive class
  * and kept high scorers): a multinomial Naive Bayes classifier over
  * the SAME hashed unigram+bigram features as [[DsirOps]] (Xie et
  * al. 2023 note hashed n-gram NB is the closed-form member of this
  * family). NB is chosen deliberately: training is pure counting —
  * two aggregations, no gradient loop — so the model is exactly
  * re-derivable by an auditor (and by the DuckDB oracle), and
  * scoring is one broadcast join + a BIGINT sum.
  *
  * Determinism contract (the repo convention): per-bucket log-odds
  * and the class prior are micro-quantized to BIGINT
  * (floor(x·1e6 + 0.5)), so per-doc scores are exact order-invariant
  * integer sums — identical on any partitioning and any engine.
  *
  * Scale shape: training aggregates the labeled slice to a
  * B-row count table (B = `buckets`, a PARAMETER — the one table
  * that is correct to broadcast) plus two scalar totals; scoring
  * joins the broadcast weight table onto the corpus's in-kernel
  * compressed feature stream ([[DsirOps.hashedNgramCounts]] — the
  * corpus never shuffles before its per-doc aggregation) and
  * attaches scores back SHUFFLE_HASH-pinned. The labeled training
  * slice is corpus-derived but its per-class reduction is B-bounded,
  * so nothing corpus-sized ever concentrates.
  *
  * Reference scope: the reference pipeline has no classifier (it is
  * a flux-tower ETL); this extends the engine for the large-scale
  * training-data use cases in the build brief.
  */
object ClassifierOps {

  private val MicroScale = 1e6

  /** Trained NB model: `weights` holds EVERY bucket 0..B-1 (absent
    * training buckets get the both-zero smoothed weight, so scoring
    * never needs a default-weight fallback), `biasMicro` the
    * smoothed log prior odds. B-row frame — broadcast at will. */
  final case class NbModel(weights: DataFrame, biasMicro: Long,
      buckets: Int, seed: Int)

  /** Train on a labeled frame (`labelCol` boolean: true = positive /
    * curated class). Add-one smoothing over the B hashed buckets;
    * log-odds per bucket and the prior micro-quantized to BIGINT. */
  def trainNaiveBayes(labeled: DataFrame, idCol: String,
      labelCol: String, textCol: String, buckets: Int = 1024,
      seed: Int = 7): NbModel = {
    require(buckets > 0, s"buckets=$buckets")
    val spark = labeled.sparkSession
    val y = col(labelCol).cast("boolean")
    val counts = DsirOps.hashedNgramCounts(
        labeled.select(col(idCol), col(textCol)), idCol, textCol,
        buckets, seed)
      .join(labeled.select(col(idCol), y.as("__y"))
        .hint("shuffle_hash"), Seq(idCol))
    // B rows by construction; checkpointed so the totals action and
    // the weight projection read one materialization.
    val byClass = Materialize.checkpoint(counts.groupBy("bucket")
      .agg(sum(when(col("__y"), col("n")).otherwise(0L)).as("c_pos"),
        sum(when(!col("__y"), col("n")).otherwise(0L)).as("c_neg")))
    val tot = byClass.agg(
      coalesce(sum("c_pos"), lit(0L)), coalesce(sum("c_neg"), lit(0L)))
      .head()
    val (tPos, tNeg) = (tot.getLong(0), tot.getLong(1))
    val weights = Materialize.checkpoint(spark.range(buckets)
      .select(col("id").as("bucket"))
      .join(byClass, Seq("bucket"), "left")
      .select(col("bucket"),
        floor((log((coalesce(col("c_pos"), lit(0L)) + 1.0)
            / lit(tPos.toDouble + buckets))
          - log((coalesce(col("c_neg"), lit(0L)) + 1.0)
            / lit(tNeg.toDouble + buckets)))
          * MicroScale + 0.5).cast("long").as("w_micro")))
    val nd = labeled.agg(
      sum(when(y, 1L).otherwise(0L)), sum(when(!y, 1L).otherwise(0L)))
      .head()
    val bias = math.floor(math.log(
      (nd.getLong(0) + 1.0) / (nd.getLong(1) + 1.0))
      * MicroScale + 0.5).toLong
    NbModel(weights, bias, buckets, seed)
  }

  /** Score every corpus doc: (idCol, n_feat, score_micro, predicted)
    * with score = Σ n_b·w_b + bias (exact BIGINT) and predicted ⇔
    * score > 0. Feature-free docs score the bare prior. */
  def scoreNaiveBayes(corpus: DataFrame, model: NbModel,
      idCol: String, textCol: String): DataFrame = {
    val perDoc = DsirOps.hashedNgramCounts(
        corpus.select(col(idCol), col(textCol)), idCol, textCol,
        model.buckets, model.seed)
      .join(broadcast(model.weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum("n").as("n_feat"),
        sum(col("n") * col("w_micro")).as("ll_micro"))
    corpus.select(col(idCol))
      .join(perDoc.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        (coalesce(col("ll_micro"), lit(0L)) + lit(model.biasMicro))
          .as("score_micro"))
      .withColumn("predicted", col("score_micro") > 0L)
  }

  /** Held-out evaluation: join `scored` ([[scoreNaiveBayes]] output)
    * to true labels and reduce to exact confusion counts — one row
    * (tp, fp, tn, fn). Counts, not ratios: integer counts are exact
    * and order-invariant; precision/recall are one division away and
    * their rounding is the caller's policy. One SHUFFLE_HASH join +
    * an O(1)-state global agg — nothing corpus-sized concentrates. */
  def confusion(scored: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String): DataFrame =
    scored
      .join(labels.select(col(idCol),
        col(labelCol).cast("boolean").as("__y")).hint("shuffle_hash"),
        Seq(idCol))
      .agg(
        sum(when(col("predicted") && col("__y"), 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("predicted") && !col("__y"), 1L).otherwise(0L))
          .as("fp"),
        sum(when(!col("predicted") && !col("__y"), 1L).otherwise(0L))
          .as("tn"),
        sum(when(!col("predicted") && col("__y"), 1L).otherwise(0L))
          .as("fn"))
}
