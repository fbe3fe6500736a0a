package graft.sources

/** A logger-file read: the scanned frame and the first file's header. */
final case class Parsed(data: org.apache.spark.sql.DataFrame,
    meta: graft.core.TableMeta)
