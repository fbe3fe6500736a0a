package graft.tools

import org.apache.spark.sql.functions._

/** Factor smoke for the STREAMING sketch tier (X79/X80/X82): the
  * scaladoc claims per-group state CONSTANT in corpus size (≤ m HLL
  * registers / rows·m CM cells / 19·10² rank cells per group) —
  * measured here rather than argued, the [[VocabFertilitySmoke]]
  * pattern: amplify the sf `documents` table, push each factor
  * through three cron drains per sketch, and record
  *
  *   - the on-disk state-store checkpoint footprint per factor (the
  *     claim under test: state saturates at the register/cell cap
  *     and stops tracking corpus size);
  *   - per-drain wall seconds (the fold is the corpus pass);
  *   - close-out parity at EVERY factor: final snapshot == the batch
  *     sketch of the same amplified corpus, register-for-register /
  *     cell-for-cell (asserted, not printed).
  *
  * Usage: `runMain graft.tools.StreamSketchScaleSmoke [sfDir]
  * [factor]` (defaults `/root/testdata/sf0.1`, 50).
  */
object StreamSketchScaleSmoke {

  private def dirSize(p: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(p)) return 0L
    java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => java.nio.file.Files.size(f)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(50)
    val spark = graft.GraftSession()
    import graft.text.{SketchOps, TextOps}

    def amplified(f: Int) = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text")
      .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
      .select((col("doc_id") * f + col("copy")).as("doc_id"),
        col("lang"),
        expr("regexp_replace(regexp_replace(lower(text), " +
          "'[^a-z0-9]+', ' '), '([a-z0-9]+)', '$1q' || copy)")
          .as("text"))

    Seq(1, factor).foreach { f =>
      val docs = amplified(f).localCheckpoint(true)
      val n = docs.count()
      val staged = docs.select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("toks"))
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_ssketch_f$f")
      val inDir = s"$root/in"
      staged.filter(col("doc_id") % 3 === 0).write.parquet(inDir)
      val schema = spark.read.parquet(inDir).schema
      def drain(sk: String): Double = {
        val t0 = System.nanoTime()
        graft.streaming.StreamingSketch.sketchRun(spark, inDir,
          s"$root/out_$sk", s"$root/ckpt_$sk", schema, "lang",
          "toks", sk)
        (System.nanoTime() - t0) / 1e9
      }
      val secs = scala.collection.mutable.Map(
        "hll" -> List.empty[Double], "cm" -> List.empty[Double])
      def drainBoth(): Unit =
        for (sk <- Seq("hll", "cm")) secs(sk) = secs(sk) :+ drain(sk)
      drainBoth()
      staged.filter(col("doc_id") % 3 === 1).write.mode("append")
        .parquet(inDir)
      drainBoth()
      staged.filter(col("doc_id") % 3 === 2).write.mode("append")
        .parquet(inDir)
      drainBoth()
      for (sk <- Seq("hll", "cm")) {
        val Seq(d1, d2, d3) = secs(sk).toSeq
        val stateKb = dirSize(java.nio.file.Paths.get(
          s"$root/ckpt_$sk")) >> 10
        val snaps = spark.read.parquet(s"$root/out_$sk")
        val fin = snaps.join(
          snaps.groupBy("group").agg(max("n_seen").as("n_seen")),
          Seq("group", "n_seen"))
        val (got, want) = sk match {
          case "hll" =>
            (fin.select("group", "bucket", "max_rho").distinct(),
              SketchOps.hllTokenRegisters(docs, "text", "lang"))
          case _ =>
            (fin.select("group", "row", "col", "n").distinct(),
              SketchOps.cmTokenCells(docs, "text", "lang"))
        }
        val diff = got.exceptAll(want).count() +
          want.exceptAll(got).count()
        assert(diff == 0L,
          s"f$f $sk: close-out != batch ($diff differing rows)")
        println(f"""{"sketch":"$sk","factor":$f,"docs":$n,""" +
          f""""drain_sec":[$d1%.1f,$d2%.1f,$d3%.1f],""" +
          f""""state_kb":$stateKb,"closeout":"batch-equal"}""")
      }
    }
    spark.stop()
  }
}
