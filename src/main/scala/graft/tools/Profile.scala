package graft.tools

import org.apache.spark.sql.functions._

/** Dev microbenchmark: stage-by-stage timing of the text-dedup
  * pipeline to locate expression hotspots. Run:
  *   sbt 'runMain graft.tools.Profile /root/testdata/sf0.1'
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    import graft.text.TextOps

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROF $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    time("scan")(docs.count())
    time("tokens")(docs.select(explode(TextOps.tokens(col("text")))).count())
    time("shingles_hof")(docs.select(
      explode(TextOps.shingles(col("text"), 3))).count())
    time("shingles_hof_distinct")(docs.select(
      explode(array_distinct(TextOps.shingles(col("text"), 3)))).count())
    val sh = docs.select(col("doc_id").as("id"),
      explode(array_distinct(TextOps.shingles(col("text"), 3))).as("shingle"))
    time("hash8")(sh.select((0 until 8).map(i =>
      TextOps.seededHash32Packed(col("shingle"), i).as(s"h$i")): _*).count())
    time("selfjoin_shingle")(sh.as("a").join(sh.as("b"),
      col("a.shingle") === col("b.shingle")
        && col("a.id") < col("b.id")).count())
    val shP = sh.persist()
    shP.count()
    time("selfjoin_persisted")(shP.as("a").join(shP.as("b"),
      col("a.shingle") === col("b.shingle")
        && col("a.id") < col("b.id")).count())
    spark.stop()
  }
}
