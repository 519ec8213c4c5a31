package graft.export

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** AnnData sink — reference K2 (export/anndata.py:12-60): one `.h5ad`
  * per partition, `X` = the float32 matrix of columns matching "feat",
  * `obs` = the columns matching "meta" (pandas `filter(regex=...)` is a
  * substring match), row index = the partition-local row number as a
  * string, `var` index = the X column names. Files are written by the
  * executors through [[Hdf5]] (no driver collect); each partition's
  * write is one sequential buffer flush.
  */
object AnnData {

  private val Enc = "encoding-type"
  private val EncV = "encoding-version"
  import Hdf5.{Attr, StrV, StrArrV}

  /** write `<dir>/<filename>.<partition>.h5ad` per partition. Output
    * goes through the Hadoop FS layer (like the parquet sink), so the
    * destination may be any filesystem the executors can resolve —
    * directory creation happens on the executors, not the driver. */
  def export(df: DataFrame, dir: String, filename: String = "features"): Unit = {
    val schema = df.schema
    val featCols = schema.fields.filter(_.name.contains("feat")).map(_.name)
    val metaCols = schema.fields.filter(_.name.contains("meta")).map(_.name)
    val fieldType = schema.fields.map(f => f.name -> f.dataType).toMap
    val dirB = dir; val nameB = filename
    val hadoopEntries = Export.hadoopConfEntries(df.sparkSession)
    // scrub stale {filename}.{pid}.h5ad from a previous (possibly
    // larger) run BEFORE writing: a re-run with fewer partitions
    // overwrites only the low indices and a consumer globbing *.h5ad
    // would read surviving old partitions alongside the new ones
    locally {
      val dirPath = new org.apache.hadoop.fs.Path(dirB)
      val fs = Export.sinkFs(dirPath, df.sparkSession.sparkContext.hadoopConfiguration)
      Export.scrubStale(fs, dirPath, filename, "h5ad")
    }
    df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      val mat = rows.toArray
      val bytes = partitionBytes(mat, schema, featCols, metaCols, fieldType)
      val dirPath = new org.apache.hadoop.fs.Path(dirB)
      val conf = new org.apache.hadoop.conf.Configuration()
      hadoopEntries.foreach { case (k, v) => conf.set(k, v) }
      val fs = Export.sinkFs(dirPath, conf)
      fs.mkdirs(dirPath)
      val out = fs.create(new org.apache.hadoop.fs.Path(dirPath, s"$nameB.$pid.h5ad"), true)
      try out.write(bytes) finally out.close()
      Iterator.single(pid)
    }.count()
    ()
  }

  private def partitionBytes(
      rows: Array[org.apache.spark.sql.Row], schema: StructType,
      featCols: Array[String], metaCols: Array[String],
      fieldType: Map[String, DataType]): Array[Byte] = {
    val n = rows.length
    val f = new Hdf5.File
    val colIdx = schema.fieldNames.zipWithIndex.toMap

    def numeric(row: org.apache.spark.sql.Row, i: Int): Double =
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
