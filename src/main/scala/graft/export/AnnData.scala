package graft.export

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** AnnData sink — reference K2 (export/anndata.py:12-60): one `.h5ad`
  * per partition, `X` = the float32 matrix of columns matching "feat",
  * `obs` = the columns matching "meta" (pandas `filter(regex=...)` is a
  * substring match), row index = the partition-local row number as a
  * string, `var` index = the X column names. Files are written by the
  * executors through [[Export.partFiles]] (no driver collect), from the
  * plan's `InternalRow`s; each partition's write is one sequential
  * buffer flush. The bytes are the ones the earlier `Row`-based writer
  * produced for every column type (its code is kept as the spec's
  * reference), e.g. the 32 parts of the tiff segmentation benchmark.
  */
object AnnData {

  private val Enc = "encoding-type"
  private val EncV = "encoding-version"
  import Hdf5.{Attr, StrV, StrArrV}

  /** write `<dir>/<filename>.<partition>.h5ad` per partition, through
    * the Hadoop FS layer (like the parquet sink), so the destination
    * may be any filesystem the executors can resolve */
  def export(df: DataFrame, dir: String, filename: String = "features"): Unit = {
    val schema = df.schema
    Export.partFiles(df, dir, filename, "h5ad", df.sparkSession.sparkContext.hadoopConfiguration) {
      (rows, _, fs, path) =>
        // the plan reuses one row object per partition
        val bytes = partitionBytes(rows.map(_.copy()).toArray, schema)
        val out = fs.create(path, true)
        try out.write(bytes) finally out.close()
    }
  }

  /** One cell of a numeric column as the double pandas would hold:
    * null → NaN, booleans 0/1, timestamps epoch millis, dates epoch
    * days. Timestamps and dates go through the same conversions as a
    * `Row` would (`java.sql.Timestamp.getTime`, `java.sql.Date`), so
    * the values do not depend on the row representation. */
  private def numeric(row: InternalRow, i: Int, t: DataType): Double =
    if (row.isNullAt(i)) Double.NaN
    else t match {
      case DoubleType => row.getDouble(i)
      case FloatType => row.getFloat(i).toDouble
      case LongType => row.getLong(i).toDouble
      case IntegerType => row.getInt(i).toDouble
      case ShortType => row.getShort(i).toDouble
      case ByteType => row.getByte(i).toDouble
      case BooleanType => if (row.getBoolean(i)) 1.0 else 0.0
      case TimestampType => DateTimeUtils.toJavaTimestamp(row.getLong(i)).getTime.toDouble
      case DateType => DateTimeUtils.toJavaDate(row.getInt(i)).toLocalDate.toEpochDay.toDouble
      case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.doubleValue
      case other => throw new IllegalArgumentException(
        s"unsupported type for anndata numeric column: $other")
    }

  private def partitionBytes(rows: Array[InternalRow], schema: StructType): Array[Byte] = {
    val n = rows.length
    val f = new Hdf5.File
    val fields = schema.fields
    val featCols = fields.indices.filter(fields(_).name.contains("feat")).toArray
    val metaCols = fields.indices.filter(fields(_).name.contains("meta"))

    // X: n × d float32, row-major (C order, like the reference's numpy)
    val d = featCols.length
    require(n.toLong * d <= (Int.MaxValue - 8L) / 4,
      s"partition X matrix ($n x $d) exceeds 2 GiB — repartition finer")
    val x = new Array[Float](n * d)
    var r = 0
    while (r < n) {
      var c = 0
      while (c < d) {
        x(r * d + c) = numeric(rows(r), featCols(c), fields(featCols(c)).dataType).toFloat
        c += 1
      }
      r += 1
    }
    val xAddr = f.dataset(Seq(n.toLong, d.toLong), Hdf5.F32, Hdf5.f32Raw(x),
      Seq(Attr(Enc, StrV("array")), Attr(EncV, StrV("0.2.0"))))

    // vlen strings (global heap), exactly as h5py/anndata write them
    def strArray(vals: Seq[String]): Long =
      f.vlenStrDataset(vals,
        Seq(Attr(Enc, StrV("string-array")), Attr(EncV, StrV("0.2.0"))))

    def dataframeGroup(index: Seq[String], cols: Seq[String],
        colAddr: Seq[Long]): Long = {
      val idxAddr = strArray(index)
      f.group((("_index" -> idxAddr)) +: cols.zip(colAddr),
        Seq(Attr(Enc, StrV("dataframe")), Attr(EncV, StrV("0.2.0")),
          Attr("_index", StrV("_index")),
          Attr("column-order", StrArrV(cols))))
    }

    // obs: the partition-local row number as the index (reset_index)
    val obsAddrs = metaCols.map { i =>
      fields(i).dataType match {
        case StringType =>
          strArray(rows.map(r => if (r.isNullAt(i)) "" else r.getUTF8String(i).toString).toSeq)
        case t @ (LongType | IntegerType | ShortType | ByteType | BooleanType |
            TimestampType | DateType) if !rows.exists(_.isNullAt(i)) =>
          // pandas float-promotes an int column holding any NaN; the
          // I64 path is only faithful when the column has no nulls
          val vals = rows.map(r => numeric(r, i, t).toLong)
          f.dataset(Seq(n.toLong), Hdf5.I64, Hdf5.i64Raw(vals),
            Seq(Attr(Enc, StrV("array")), Attr(EncV, StrV("0.2.0"))))
        case t =>
          val vals = rows.map(numeric(_, i, t))
          f.dataset(Seq(n.toLong), Hdf5.F64, Hdf5.f64Raw(vals),
            Seq(Attr(Enc, StrV("array")), Attr(EncV, StrV("0.2.0"))))
      }
    }
    val obsAddr = dataframeGroup((0 until n).map(_.toString), metaCols.map(fields(_).name), obsAddrs)
    // var: index = X's column names, no further columns
    val varAddr = dataframeGroup(featCols.toSeq.map(fields(_).name), Seq.empty, Seq.empty)
    val root = f.group(
      Seq("X" -> xAddr, "obs" -> obsAddr, "var" -> varAddr),
      Seq(Attr(Enc, StrV("anndata")), Attr(EncV, StrV("0.1.0"))))
    f.finish(root)
  }
}
