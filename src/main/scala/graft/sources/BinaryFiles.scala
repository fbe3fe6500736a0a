package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whole-file scans for formats decoded one file per task (CSIXML,
  * netCDF). */
object BinaryFiles {

  /** The `binaryFile` scan of a file, directory or glob (`path`,
    * `content`) and the bytes of its first listed file, read on the
    * driver so a reader can take its schema from them without
    * running a Spark job. */
  def scan(spark: SparkSession, path: String): (DataFrame, Array[Byte]) = {
    val bin = spark.read.format("binaryFile").load(path)
      .select("path", "content")
    val first = new Path(bin.inputFiles.min)
    val in = first.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .open(first)
    try (bin, in.readAllBytes()) finally in.close()
  }
}
