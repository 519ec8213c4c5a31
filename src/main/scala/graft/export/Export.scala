package graft.export

import graft.core.ImageEvent
import graft.plans.WideTypes
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetUtils, ParquetWriteSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration
import java.nio.charset.StandardCharsets

/** Sinks — reference K1-K6 (SURVEY.md §2.1).
  *
  * K1 (parquet, [[parquetPartFiles]]) and K2 (AnnData `.h5ad`,
  * [[AnnData.export]] over the HDF5 writer in [[Hdf5]]) are one
  * `{filename}.{partition}.{ext}` file per partition, written by the
  * executors through [[partFiles]], like the reference's per-partition
  * writes (export/parquet.py:24-27, export/anndata.py:12-60); K3-K6
  * (the extent CSVs, `.npy` masks, correction images and timing JSON)
  * are below.
  */
object Export {

  /** Delete stale `{name}.{i}.{ext}` part files from a previous
    * (possibly larger) run: survivors with higher indices would be read
    * alongside the new files. */
  private[export] def scrubStale(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, name: String, ext: String): Unit =
    if (fs.exists(dir)) {
      val stale = s"\\Q$name\\E\\.\\d+\\.\\Q$ext\\E".r
      fs.listStatus(dir)
        .filter(st => stale.pattern.matcher(st.getPath.getName).matches)
        .foreach(st => fs.delete(st.getPath, false))
    }

  /** The filesystem a sink writes `path` through: the one Hadoop
    * resolves, except that `file:` is written through the raw local
    * filesystem. The checksummed one Hadoop resolves for `file:` leaves
    * a `.{name}.crc` sidecar next to every file it writes, which the
    * reference does not write, and pays a CRC32 on every written byte.
    * Every sink, on the driver and on the executors, resolves its
    * filesystem here. */
  private[graft] def sinkFs(path: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(path.toUri, conf) match {
      case local: org.apache.hadoop.fs.LocalFileSystem => local.getRaw
      case other => other
    }

  /** The part-file runner both table sinks share: after deleting stale
    * parts ([[scrubStale]]), one task per partition of `df` writes
    * `{outputDir}/{filename}.{partition}.{ext}` with `write`, which
    * gets the partition's rows, `conf`, the [[sinkFs]] filesystem and
    * the part's path. An empty partition gets its part too, so part `i`
    * always holds partition `i`. `conf` goes to the executors in one
    * broadcast of a `SerializableConfiguration`, as Spark's file
    * readers send theirs: it is read once per executor and shared by
    * its tasks, which must not change it. (Spark's write command sends
    * its configuration in every task's closure instead, ~900 entries a
    * task.)
    *
    * The rows are the executed plan's own `InternalRow`s
    * (`queryExecution.toRdd`: for a feature table, the rows
    * `WideRowsExec` writes), so no row is converted to a `Row`. The job
    * runs as one SQL execution of `df`'s query, so listeners see it as
    * that query's execution. No write command is planned and there is
    * no commit protocol: each task writes its final file in place, and
    * a retried task overwrites it. */
  private[export] def partFiles(df: DataFrame, outputDir: String, filename: String,
      ext: String, conf: Configuration)(
      write: (Iterator[InternalRow], Configuration, FileSystem, Path) => Unit): Unit = {
    val spark = df.sparkSession
    // Path(...).toUri escapes spaces etc.; a raw new URI(path) throws on them
    val dir = new Path(outputDir)
    scrubStale(sinkFs(dir, spark.sparkContext.hadoopConfiguration), dir, filename, ext)
    val shipped = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val qe = df.queryExecution
    try SQLExecution.withNewExecutionId(qe, Some(s"write $ext")) {
      spark.sparkContext.runJob(qe.toRdd, (task: TaskContext, rows: Iterator[InternalRow]) => {
        val conf = shipped.value.value
        write(rows, conf, sinkFs(dir, conf), new Path(dir, s"$filename.${task.partitionId}.$ext"))
      })
    } finally shipped.destroy()
    ()
  }

  /** K1, the feature table → parquet (export/parquet.py:6-31), with
    * the reference's file naming: one `{filename}.{partition}.parquet`
    * per partition directly in the output directory
    * (export/parquet.py:24-27 name_function, no _metadata file),
    * written through [[partFiles]] by parquet-mr's writer. The job
    * configuration is the one Spark's writer prepares for its write
    * support (`ParquetUtils.prepareWrite`), and the parquet schema is
    * Spark's conversion of `df.schema`, so the schema, encodings and
    * column chunks are the ones `df.write.parquet` writes with the same
    * options. The fields must be of the [[WideTypes]] (double, bigint,
    * int or string: the cells a feature table holds); any other type
    * fails before a task runs. Parquet properties are parquet-mr's defaults, except:
    *
    *  - No dictionary encoding: with it, every value pays a hash-map put
    *    and lookup in parquet's dictionary writer (~8% of the executor
    *    samples of a settled zarr run), while it saves few bytes on the
    *    double feature columns; the larger the part, the more it would
    *    have saved.
    *  - A 4 KB codec buffer: parquet compresses each page through a
    *    codec stream that allocates a buffer of `io.file.buffer.size`
    *    bytes, 64 KB in Spark's configuration, a fresh array per page of
    *    ~2,700 feature columns. The compressed bytes do not depend on it.
    *  - The footer holds no `org.apache.spark.sql.parquet.row.metadata`
    *    key ([[PartWriteSupport]]). Spark reads the schema back from the
    *    parquet schema alone: the same names and types, all nullable,
    *    as a read of Spark's own parts gives.
    *
    * The codec is the session's (`spark.sql.parquet.compression.codec`,
    * snappy by default). No memory manager shrinks the row groups of
    * concurrent writers: a part of the feature table is far smaller
    * than one 128 MB row group.
    *
    * What the parts share ([[PartSchema]]) and the configuration go to
    * each executor once, in broadcasts; each part's bytes go through
    * one 64 KB array ([[SinkOutputFile]]).
    *
    * Bytes on the zarr reference shape (4 parts, 2,733 columns): the
    * row-metadata value is 248,446 bytes of JSON, so each part is a
    * fixed 248,494 bytes (~243 KB) smaller than Spark's, whatever its
    * row count. At 160 events (40 rows a part) the output falls from
    * 6,104,350 to 5,110,374 bytes (-16.3%); at 1,600 events (400 rows a
    * part) from 26,307,496 to 25,313,520 (-3.8%). */
  def parquetPartFiles(df: DataFrame, outputDir: String, filename: String): Unit = {
    val state = df.sparkSession.sessionState
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      state.newHadoopConfWithOptions(Map("io.file.buffer.size" -> "4096")))
    // the configuration Spark's writer gives its write support
    ParquetUtils.prepareWrite(state.conf, job, df.schema,
      new ParquetOptions(Map.empty[String, String], state.conf))
    val conf = job.getConfiguration
    val codec = ParquetOutputFormat.getCompression(conf)
    val part = df.sparkSession.sparkContext.broadcast(new PartSchema(df.schema, sparkFooter(conf)))
    // what the schema JSON was for: no task reads it
    conf.unset(ParquetWriteSupport.SPARK_ROW_SCHEMA)
    try partFiles(df, outputDir, filename, "parquet", conf) { (rows, conf, fs, path) =>
      val writer = new PartWriter(new SinkOutputFile(fs, path), part.value).withConf(conf)
        .withCompressionCodec(codec).withDictionaryEncoding(false)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
      try rows.foreach(writer.write) finally writer.close()
    } finally part.destroy()
  }

  /** The footer key-values Spark's write support puts in a part under
    * `conf` (the Spark version, and the rebase markers of the session's
    * datetime modes), minus the row-metadata JSON. Spark's own write
    * support computes them, initialized on a one-column schema so that
    * the feature table's JSON is neither parsed nor converted here. */
  private def sparkFooter(conf: Configuration): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val probe = new Configuration(conf)
    ParquetWriteSupport.setSchema(StructType(Seq(StructField("probe", IntegerType))), probe)
    new ParquetWriteSupport().init(probe).getExtraMetaData.asScala.toMap -
      ParquetReadSupport.SPARK_METADATA_KEY
  }

  /** What every part of one parquet export shares, read by the
    * executors from a broadcast: the frame's schema, each field's name
    * and type code, and the footer key-values. The parquet schema is
    * converted from it once per executor, by the converter Spark's own
    * write support uses. */
  private final class PartSchema(schema: StructType, val footer: Map[String, String])
      extends Serializable {
    val names: Array[String] = schema.fieldNames
    val codes: Array[Int] = schema.fields.map(f => WideTypes.code(f.name, f.dataType))
    @transient private var converted: MessageType = _
    /** on the executor, under `conf` (the parts' own configuration) */
    def messageType(conf: Configuration): MessageType = synchronized {
      if (converted == null) converted = new SparkToParquetSchemaConverter(conf).convert(schema)
      converted
    }
  }

  /** Spark's parquet write support for the four [[WideTypes]]: each non-null field is written as Spark's writer
    * writes it (`addDouble`, `addLong`, `addInteger`, or the UTF-8
    * bytes through `Binary.fromReusedByteArray`), chosen by its type
    * code instead of through a boxed per-field writer closure. The
    * footer carries Spark's key-values minus the row-metadata JSON: the
    * row-metadata value repeats the whole Spark schema (248,446 bytes
    * for the 2,733 columns of the zarr reference shape), and the
    * parquet schema already carries its names, types and nullability. */
  private final class PartWriteSupport(part: PartSchema) extends WriteSupport[InternalRow] {
    private var consumer: RecordConsumer = _
    private val names = part.names
    private val codes = part.codes

    override def init(conf: Configuration): WriteSupport.WriteContext = {
      import scala.jdk.CollectionConverters._
      new WriteSupport.WriteContext(part.messageType(conf), part.footer.asJava)
    }

    override def prepareForWrite(recordConsumer: RecordConsumer): Unit =
      consumer = recordConsumer

    override def write(row: InternalRow): Unit = {
      consumer.startMessage()
      var i = 0
      while (i < codes.length) {
        if (!row.isNullAt(i)) {
          consumer.startField(names(i), i)
          (codes(i): @scala.annotation.switch) match {
            case WideTypes.DoubleCode => consumer.addDouble(row.getDouble(i))
            case WideTypes.LongCode => consumer.addLong(row.getLong(i))
            case WideTypes.IntCode => consumer.addInteger(row.getInt(i))
            case WideTypes.StringCode =>
              consumer.addBinary(Binary.fromReusedByteArray(row.getUTF8String(i).getBytes))
          }
          consumer.endField(names(i), i)
        }
        i += 1
      }
      consumer.endMessage()
    }
  }

  private final class PartWriter(file: OutputFile, part: PartSchema)
      extends ParquetWriter.Builder[InternalRow, PartWriter](file) {
    override protected def self(): PartWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new PartWriteSupport(part)
  }

  /** parquet-mr's `HadoopOutputFile` (same create arguments, same
    * block-size answers), over the [[sinkFs]] filesystem instead of the
    * one `Path.getFileSystem` resolves. `ParquetOutputFormat` opens its
    * files through the latter, which for `file:` is the checksummed
    * filesystem, so the parts are written by parquet-mr's
    * `ParquetWriter` over this file. Its stream is a [[BlockStream]]. */
  private final class SinkOutputFile(fs: FileSystem, path: Path) extends OutputFile {
    private def open(overwrite: Boolean, blockSizeHint: Long): PositionOutputStream =
      new BlockStream(fs.create(path, overwrite, 4096, fs.getDefaultReplication(path),
        math.max(fs.getDefaultBlockSize(path), blockSizeHint)))
    override def create(blockSizeHint: Long): PositionOutputStream = open(false, blockSizeHint)
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
      open(true, blockSizeHint)
    override def supportsBlockSize(): Boolean =
      HadoopOutputFile.getBlockFileSystems.contains(fs.getUri.getScheme)
    override def defaultBlockSize(): Long = fs.getDefaultBlockSize(path)
    override def getPath(): String = path.toString
  }

  /** A part's stream: bytes gather in one 64 KB array and go to the
    * filesystem stream `out` a whole block at a time (a write at least
    * that long goes straight through), and the position is counted
    * here. parquet-mr writes the footer and every page header as many
    * small thrift writes; through Hadoop's `FSDataOutputStream` each of
    * them passed a `DataOutputStream`, a per-write statistics lookup
    * and a `BufferedOutputStream`. The bytes written are the same. */
  private final class BlockStream(out: java.io.OutputStream) extends PositionOutputStream {
    private val buf = new Array[Byte](1 << 16)
    private var count = 0 // bytes in buf
    private var drained = 0L // bytes handed to out

    override def getPos: Long = drained + count

    override def write(b: Int): Unit = {
      if (count == buf.length) drain()
      buf(count) = b.toByte
      count += 1
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      if (len >= buf.length) {
        drain()
        out.write(b, off, len)
        drained += len
      } else {
        if (len > buf.length - count) drain()
        System.arraycopy(b, off, buf, count, len)
        count += len
      }

    private def drain(): Unit = if (count > 0) {
      out.write(buf, 0, count)
      drained += count
      count = 0
    }

    override def flush(): Unit = { drain(); out.flush() }

    override def close(): Unit = try drain() finally out.close()
  }

  /** Driver-side text write through the Hadoop FS layer, so the
    * destination may be any filesystem the session resolves (s3a,
    * hdfs, file) — a bare java.nio write would land the small CSV/JSON
    * artifacts on the driver's local disk while the big sinks go to
    * the cluster destination. */
  private[export] def writeText(spark: SparkSession, path: String,
      text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = sinkFs(p, spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** minimal CSV quoting, pandas to_csv QUOTE_MINIMAL: quote only
    * cells containing a delimiter/quote/newline, doubling quotes */
  private[export] def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** channel_boundaries.csv exactly as the reference writes it
    * (main.py:49-60): one row per group, wide `{channel}_min`/
    * `{channel}_max` columns, the group key as the unnamed index. */
  def channelBoundariesCsv(spark: SparkSession,
      minmax: Map[(String, Int), (Double, Double)],
      channelNames: Seq[String], path: String): Unit = {
    val header = "," + channelNames.flatMap(c =>
      Seq(csvCell(s"${c}_min"), csvCell(s"${c}_max"))).mkString(",")
    val groups = minmax.keys.map(_._1).toSeq.distinct.sorted
    val sb = new StringBuilder(header + "\n")
    groups.foreach { g =>
      val cells = channelNames.indices.flatMap { c =>
        val (lo, hi) = minmax.getOrElse((g, c), (Double.NaN, Double.NaN))
        Seq(lo.toString, hi.toString)
      }
      // group keys come from source metadata — a comma in one (e.g. a
      // CZI scene name) would shift every cell without quoting
      sb.append(csvCell(g) + "," + cells.mkString(",") + "\n")
    }
    writeText(spark, path, sb.toString)
  }

  /** K3: per-group per-channel min/max quantiles → one small CSV
    * written on the driver (main.py:49-60 — the only collect() in the
    * pipeline, ngroups×C rows by construction) */
  def quantilesCsv(spark: SparkSession,
      minmax: Map[(String, Int), (Double, Double)], path: String): Unit = {
    val sb = new StringBuilder("group,channel,min,max\n")
    minmax.toSeq.sortBy { case ((g, c), _) => (g, c) }.foreach {
      case ((g, c), (lo, hi)) => sb.append(s"${csvCell(g)},$c,$lo,$hi\n")
    }
    writeText(spark, path, sb.toString)
  }

  /** K4: side-effect export of labeled masks as .npy — a pass-through
    * side write inside mapPartitions, named by the joined group keys
    * EXACTLY like the reference ("_".join(event[k] for k in
    * group_keys), segmentation/__init__.py:61-65). The reference
    * contract assumes the group keys identify a FOV uniquely; like the
    * reference, events sharing the same group string overwrite one
    * file (last writer wins). Writes go through the Hadoop FS layer so
    * executors can resolve the destination on a real cluster (a bare
    * java.nio write would target executor-local disks). */
  def npyMasks(ds: Dataset[ImageEvent], dir: String): Dataset[ImageEvent] = {
    import graft.core.Codecs._
    val dirB = dir
    // the session's configuration (credentials, defaultFS), in the
    // closure: a fresh Configuration would drop s3a/hdfs settings
    val shipped = new SerializableConfiguration(ds.sparkSession.sparkContext.hadoopConfiguration)
    ds.mapPartitions { events =>
      lazy val fs = {
        val masksPath = new org.apache.hadoop.fs.Path(dirB, "masks")
        val f = sinkFs(masksPath, shipped.value)
        f.mkdirs(masksPath)
        f
      }
      events.map { e =>
        if (e.hasMask) {
          val name = s"${e.group.replace('/', '_')}.npy"
          val out = fs.create(new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(dirB, "masks"), name), true)
          try out.write(npyIntBytes(e.mask, Seq(e.channels, e.height, e.width)))
          finally out.close()
        }
        e
      }
    }
  }

  /** minimal .npy v1.0 payload (int32, C order) */
  private[export] def npyIntBytes(data: Array[Int], shape: Seq[Int]): Array[Byte] = {
    val headerBody =
      s"{'descr': '<i4', 'fortran_order': False, 'shape': (${shape.mkString(", ")}${if (shape.length == 1) "," else ""}), }"
    // pad header so that magic(6)+ver(2)+len(2)+header is a multiple of 64
    val unpadded = 10 + headerBody.length + 1
    val pad = (64 - unpadded % 64) % 64
    val header = headerBody + " " * pad + "\n"
    val bb = java.nio.ByteBuffer.allocate(10 + header.length + data.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(0x93.toByte).put("NUMPY".getBytes(StandardCharsets.US_ASCII))
    bb.put(1.toByte).put(0.toByte)
    bb.putShort(header.length.toShort)
    bb.put(header.getBytes(StandardCharsets.US_ASCII))
    data.foreach(bb.putInt)
    bb.array()
  }

  /** K5: persist per-group correction images as a small keyed parquet
    * (jones_2006.py:102-107,122-128 pickle → parquet here); reload
    * with [[loadCorrectionImages]] for the `precomputed` path. */
  def saveCorrectionImages(spark: SparkSession,
      images: Map[String, Array[Float]], path: String): Unit = {
    import spark.implicits._
    images.toSeq.toDF("group", "correction").write.mode("overwrite").parquet(path)
  }

  def loadCorrectionImages(spark: SparkSession, path: String): Map[String, Array[Float]] =
    spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap

  /** K6: timing JSON `{**args, runtime}` (main.py:338,370-376) */
  def timingJson(spark: SparkSession, path: String,
      args: Map[String, String], runtimeSec: Double): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val fields = args.map { case (k, v) => s"${q(k)}: ${q(v)}" } ++
      Seq(s""""runtime": $runtimeSec""")
    writeText(spark, path, fields.mkString("{", ", ", "}"))
  }
}
