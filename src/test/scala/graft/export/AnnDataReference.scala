package graft.export

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The `.h5ad` layout [[AnnData]] wrote from `Row`s (the collected form
  * of `df.rdd`), kept as the reference [[AnnDataEquivalenceSpec]]
  * compares the `InternalRow` writer with, byte for byte. */
object AnnDataReference {

  private val Enc = "encoding-type"
  private val EncV = "encoding-version"
  import Hdf5.{Attr, StrV, StrArrV}

  def partitionBytes(rows: Array[Row], schema: StructType): Array[Byte] = {
    val featCols = schema.fields.filter(_.name.contains("feat")).map(_.name)
    val metaCols = schema.fields.filter(_.name.contains("meta")).map(_.name)
    val fieldType = schema.fields.map(f => f.name -> f.dataType).toMap
    val n = rows.length
    val f = new Hdf5.File
    val colIdx = schema.fieldNames.zipWithIndex.toMap

    def numeric(row: Row, i: Int): Double =
      row.get(i) match {
        case null => Double.NaN
        case d: Double => d
        case fl: Float => fl.toDouble
        case l: Long => l.toDouble
        case x: Int => x.toDouble
        case s: Short => s.toDouble
        case b: java.lang.Byte => b.toDouble
        case b: Boolean => if (b) 1.0 else 0.0
        case t: java.sql.Timestamp => t.getTime.toDouble // epoch millis
        case dt: java.sql.Date => dt.toLocalDate.toEpochDay.toDouble
        case dec: java.math.BigDecimal => dec.doubleValue
        case other => throw new IllegalArgumentException(
          s"unsupported value type for anndata numeric column: ${other.getClass}")
      }

    // X: n × d float32, row-major (C order, like the reference's numpy)
    val d = featCols.length
    require(n.toLong * d <= (Int.MaxValue - 8L) / 4,
      s"partition X matrix ($n x $d) exceeds 2 GiB — repartition finer")
    val x = new Array[Float](n * d)
    var r = 0
    while (r < n) {
      var c = 0
      while (c < d) {
        x(r * d + c) = numeric(rows(r), colIdx(featCols(c))).toFloat
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
    val obsCols = metaCols.toSeq
    val obsAddrs = obsCols.map { name =>
      fieldType(name) match {
        case StringType =>
          strArray(rows.map(r => Option(r.getAs[String](colIdx(name))).getOrElse("")).toSeq)
        case LongType | IntegerType | ShortType | ByteType | BooleanType |
            TimestampType | DateType
            if !rows.exists(_.isNullAt(colIdx(name))) =>
          // pandas float-promotes an int column holding any NaN; the
          // I64 path is only faithful when the column has no nulls
          val vals = rows.map(r => numeric(r, colIdx(name)).toLong)
          f.dataset(Seq(n.toLong), Hdf5.I64, Hdf5.i64Raw(vals),
            Seq(Attr(Enc, StrV("array")), Attr(EncV, StrV("0.2.0"))))
        case _ =>
          val vals = rows.map(numeric(_, colIdx(name)))
          f.dataset(Seq(n.toLong), Hdf5.F64, Hdf5.f64Raw(vals),
            Seq(Attr(Enc, StrV("array")), Attr(EncV, StrV("0.2.0"))))
      }
    }
    val obsAddr = dataframeGroup((0 until n).map(_.toString), obsCols, obsAddrs)
    // var: index = X's column names, no further columns
    val varAddr = dataframeGroup(featCols.toSeq, Seq.empty, Seq.empty)
    val root = f.group(
      Seq("X" -> xAddr, "obs" -> obsAddr, "var" -> varAddr),
      Seq(Attr(Enc, StrV("anndata")), Attr(EncV, StrV("0.1.0"))))
    f.finish(root)
  }
}
