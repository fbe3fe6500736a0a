package graft.tools

import org.apache.spark.sql.functions._

/** Factor smoke for the systematic PPS sampler (X83): amplify the sf
  * `documents` table, draw k token-weighted samples, and assert the
  * operator's two exact invariants at scale — Σ n_hits = k, and
  * every row heavier than W/k selected. Records wall seconds (the
  * cost is the packOffsets range exchange — one full-corpus shuffle,
  * the floor for any order-based method).
  *
  * Usage: `runMain graft.tools.PpsScaleSmoke [sfDir] [factor] [k]`
  * (defaults `/root/testdata/sf0.1`, 50, 100000).
  */
object PpsScaleSmoke {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(50)
    val k = args.lift(2).map(_.toLong).getOrElse(100000L)
    val spark = graft.GraftSession()
    import graft.text.{PackOps, SampleOps, TextOps}

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("doc_id") * factor + col("copy")).as("doc_id"),
        col("text"))
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      .localCheckpoint(true)
    val n = docs.count()
    val t0 = System.nanoTime()
    val out = SampleOps.samplePpsSystematic(docs, "doc_id", "n_tok",
        k, "ppssmoke")
      .localCheckpoint(eager = true)
    PackOps.releaseSubstrates()
    val sec = (System.nanoTime() - t0) / 1e9
    val hits = out.agg(sum("n_hits")).head().getLong(0)
    val rows = out.count()
    assert(hits == k, s"sum(n_hits)=$hits != k=$k")
    val totW = docs.agg(sum("n_tok")).head().getLong(0)
    val heavyMissing = docs.filter(col("n_tok") * k > totW)
      .join(out.select("doc_id"), Seq("doc_id"), "left_anti").count()
    assert(heavyMissing == 0L, s"$heavyMissing heavy rows unselected")
    println(f"""{"smoke":"pps","factor":$factor,"docs":$n,"k":$k,""" +
      f""""sec":$sec%.1f,"selected_rows":$rows,"sum_hits":$hits,""" +
      f""""total_weight":$totW,"invariants":"ok"}""")
    spark.stop()
  }
}
