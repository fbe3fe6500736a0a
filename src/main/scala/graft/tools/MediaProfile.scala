package graft.tools

import org.apache.spark.sql.functions._

/** Dev microbenchmark: stage-by-stage timing of the q158/q163 video
  * near-dup chain (synthesis, frame hashing, distinct, pair join) so
  * the wall cost attributes to a stage instead of a guess. Noop-sink
  * timings per the optimization guide §1.4. Run:
  *   sbt 'runMain graft.tools.MediaProfile /root/testdata/sf0.1'
  */
object MediaProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    import spark.implicits._
    import graft.multimodal.{MediaDedup, Multimodal}

    def time(name: String)(f: => Unit): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        f
        println(f"PROF $name%-24s rep$i ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val media = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = if (id % 5 == 2) 7 else 0
        val corrupt = id % 3 == 1
        val nf = if (id % 7 == 3) 4 else 6
        val avi = Multimodal.SyntheticMedia.aviDib(18, 16, nf) {
          (f, x, y) =>
            if (corrupt && f == 0) (40, 40, 40)
            else ((sd * 3 + f * 17 + x * 7 + y * 11) % 248 + bright,
                  (sd * 5 + f * 13 + x * 11 + y * 3) % 248 + bright,
                  (sd * 7 + f * 19 + x * 3 + y * 13) % 248 + bright)
        }
        (id, avi)
      }.toDF("media_id", "payload")
    time("synthesize")(noop(media))
    val fht = MediaDedup.videoFrameHashTable(media)
    time("hashTable")(noop(fht))
    val fhtCk = fht.localCheckpoint(true)
    time("distinct")(noop(
      fhtCk.filter(col("dhash").isNotNull)
        .select(col("media_id").cast("long").as("id"),
          col("dhash").cast("long").as("h")).distinct()))
    time("pairs_all")(noop(
      MediaDedup.sharedFrameVideoPairs(fhtCk, minShared = 3)))
    time("q158_shape")(noop(
      MediaDedup.sharedFrameVideoPairs(
        MediaDedup.videoFrameHashTable(media), minShared = 3)
        .orderBy("id_a", "id_b")))
    spark.stop()
  }
}
