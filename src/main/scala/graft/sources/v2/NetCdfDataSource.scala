package graft.sources.v2

import java.time.ZoneId

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._

import graft.sources.NetCdf

/** L1 netCDF products (S11/J4) through the logger-file scan seam:
  * `spark.read.format("netcdf")`, behind
  * [[graft.pipeline.L1Pipeline.readNetCdf]]. */
class NetCdfDataSource extends LoggerSource(NetCdfV2)

/** A file is one split; its header is the whole parsed
  * [[NetCdf.Dataset]], so a reader parses it once. The frame is
  * DATETIME (the CF `time` coordinate, seconds since 1800-01-01) plus
  * every record variable but `time` and `crs`: NC_INT ones (QC flags)
  * as ints, the rest as doubles with NaN -> null. */
private[sources] object NetCdfV2 extends LoggerFormat[NetCdf.Dataset] {
  val name = "netcdf"

  def header(file: String): NetCdf.Dataset = NetCdf.read(file)

  // the record variables but the time coordinate and crs
  private def dataVars(ds: NetCdf.Dataset): Seq[NetCdf.Var] = {
    val recId = ds.dims.indexWhere(_.length == 0)
    ds.vars.filter(v => v.name != "time" && v.name != "crs" &&
      v.dimIds.headOption.contains(recId))
  }

  def schema(ds: NetCdf.Dataset): StructType =
    StructType(StructField("DATETIME", TimestampType) +:
      dataVars(ds).map(v => StructField(v.name,
        if (v.ncType == NetCdf.NcInt) IntegerType else DoubleType)))

  def reader(split: FileSplit, ds: NetCdf.Dataset, fields: Array[Int],
      zone: ZoneId): PartitionReader[InternalRow] = {
    val time = ds.vars.find(_.name == "time").getOrElse(
      throw new IllegalArgumentException(s"no time var in ${split.file}"))
    val vars = dataVars(ds).toArray
    val full = schema(ds)
    val row = new SpecificInternalRow(fields.toSeq.map(full(_).dataType))
    LoggerFormat.reader(time.data.indices.iterator.map { i =>
      var k = 0
      while (k < fields.length) {
        if (fields(k) == 0)
          row.setLong(k, ((time.data(i) + NetCdf.Epoch1800Sec) * 1000.0).toLong * 1000L)
        else {
          val v = vars(fields(k) - 1)
          val d = v.data(i)
          if (v.ncType == NetCdf.NcInt) row.setInt(k, d.toInt)
          else if (d.isNaN) row.setNullAt(k)
          else row.setDouble(k, d)
        }
        k += 1
      }
      row
    })
  }
}
