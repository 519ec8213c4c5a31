package graft.plans

import graft.core.ImageEvent
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ObjectConsumer}
import org.apache.spark.sql.execution.{ObjectConsumerExec, ObjectOperator, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Where one wide row's cells go: field `i` of the declared schema,
  * written by its type, with no boxing. This is the cell contract of
  * [[WideRowsPlan]]: for each event, its `fill` writes the row's fields
  * through one of these, in any order. A field that gets no write is
  * null, as is one set null or given a `null` string; a later write to
  * a field replaces an earlier one. Each setter must match the field's
  * declared type, one of the four [[WideTypes]]; the exec checks every
  * write's field index and type, and fails the task on a mismatch. */
abstract class WideCells {
  def setNull(i: Int): Unit
  def setDouble(i: Int, v: Double): Unit
  def setLong(i: Int, v: Long): Unit
  def setInt(i: Int, v: Int): Unit
  def setString(i: Int, v: String): Unit
}

/** The field types a wide row carries (double, bigint, int and
  * string: the cells of a feature table), each with the code that the
  * wide-row exec and the parquet part writer dispatch on. */
object WideTypes {
  final val DoubleCode = 0
  final val LongCode = 1
  final val IntCode = 2
  final val StringCode = 3

  /** the code of `field`'s type; any other type is unsupported */
  def code(field: String, dt: DataType): Int = dt match {
    case DoubleType => DoubleCode
    case LongType => LongCode
    case IntegerType => IntCode
    case StringType => StringCode
    case other => throw new UnsupportedOperationException(
      s"wide row field $field has type ${other.simpleString}; " +
        "only double, bigint, int and string fields can be written")
  }

  /** the SQL name of a code's type */
  private[plans] def name(code: Int): String =
    Seq(DoubleType, LongType, IntegerType, StringType)(code).simpleString
}

/** [[WideCells]] into an array of Scala values (`null` for a null
  * cell): the row as `Row.fromSeq` would hold it, for code that needs
  * every value of a row at once (the wide-row digest). */
final class ArrayCells(n: Int) extends WideCells {
  val values = new Array[Any](n)
  def setNull(i: Int): Unit = values(i) = null
  def setDouble(i: Int, v: Double): Unit = values(i) = v
  def setLong(i: Int, v: Long): Unit = values(i) = v
  def setInt(i: Int, v: Int): Unit = values(i) = v
  def setString(i: Int, v: String): Unit = values(i) = v
}

object ArrayCells {
  /** one event's row through `fill`, as an array of `n` values */
  def of(n: Int, e: ImageEvent, fill: (ImageEvent, WideCells) => Unit): Array[Any] = {
    val cells = new ArrayCells(n)
    fill(e, cells)
    cells.values
  }
}

/** Whole-operator wide row: one record → one row of a declared schema
  * (the imaging feature table: ~2700 columns on the reference config).
  *
  * `Dataset.map(...)(Encoders.row(schema))` boxes every record into a
  * `Row` and then serializes it through one planned expression per
  * field. This node skips both: `fill` writes the row's cells through
  * [[WideCells]] (the contract is there), and the exec backs them with
  * one `UnsafeRowWriter` per partition, so a feature double goes from
  * the kernel that computed it into the row without being boxed. No
  * projection is generated: with ~2700 fields, building and hashing its
  * Java source cost more per task than writing the rows.
  * The child is a
  * `DeserializeToObject` of the event encoder (bound once, by the
  * analyzer), which the optimizer's `EliminateSerialization`
  * removes whenever the input already holds objects (a preceding typed
  * map), so an upstream map feeds its objects straight in.
  *
  * A plain unary node, not an RDD-backed relation: size estimates flow
  * through from the child as they do through an object map, so joins
  * over the wide frame keep the strategy and partitioning they had.
  *
  * Both nodes render as `WideRows[N fields: first, …]`: the default
  * rendering lists every output attribute and the closure, which for
  * the feature table passes Spark's `maxToStringFields` and makes it
  * log a truncation warning whenever a query's plan is described.
  */
case class WideRowsPlan(output: Seq[Attribute], fill: (ImageEvent, WideCells) => Unit,
    child: LogicalPlan) extends ObjectConsumer {
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(WideRowsExec.describe(output))
  override protected def withNewChildInternal(newChild: LogicalPlan): WideRowsPlan =
    copy(child = newChild)
}

/** Planner rule for [[WideRowsPlan]]. The CLI's session, and any
  * session a caller builds, carries no graft extensions, so
  * `Features.wideFrame` installs the rule with [[setup]] at use. */
object WideRowsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case WideRowsPlan(output, fill, child) =>
      WideRowsExec(output, fill, planLater(child)) :: Nil
    case _ => Nil
  }

  /** install on the session once; later calls are no-ops */
  def setup(session: SparkSession): Unit = synchronized {
    val experimental = session.experimental
    if (!experimental.extraStrategies.contains(this))
      experimental.extraStrategies = this +: experimental.extraStrategies
  }
}

case class WideRowsExec(output: Seq[Attribute], fill: (ImageEvent, WideCells) => Unit,
    child: SparkPlan) extends ObjectConsumerExec {

  // one row out per row in, as for MapElementsExec
  override def outputPartitioning = child.outputPartitioning
  override protected def stringArgs: Iterator[Any] = Iterator(WideRowsExec.describe(output))
  override protected def withNewChildInternal(newChild: SparkPlan): WideRowsExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val codes = output.map(a => WideTypes.code(a.name, a.dataType)).toArray
    val getObject = ObjectOperator.unwrapObjectFromRow(inputObjectType)
    val f = fill
    child.execute().mapPartitions { it =>
      val cells = new WideRowsExec.RowCells(codes)
      it.map { in =>
        cells.start()
        f(getObject(in).asInstanceOf[ImageEvent], cells)
        cells.finish()
      }
    }
  }
}

object WideRowsExec {
  /** [[WideCells]] straight into an unsafe row whose field `i` has type
    * code `codes(i)`, reused row after row: [[start]], the row's
    * writes, then [[finish]], which sets null every field the writes
    * left without a value. Every write first checks its field: the
    * row writer does not, and a write past the last field or of the
    * wrong width would land in another field's bytes or past the row. */
  private final class RowCells(codes: Array[Int]) extends WideCells {
    private val n = codes.length
    private val writer = new UnsafeRowWriter(n)
    // bit i: field i holds a value in this row
    private val valued = new Array[Long]((n + 63) >>> 6)
    private def mark(i: Int): Unit = valued(i >>> 6) |= 1L << i

    private def inRange(i: Int): Unit =
      if (i < 0 || i >= n)
        throw new IllegalStateException(s"wide row write to field $i; the row has $n fields")
    private def check(i: Int, code: Int): Unit = {
      inRange(i)
      if (codes(i) != code) throw new IllegalStateException(
        s"wide row write of a ${WideTypes.name(code)} to field $i, a ${WideTypes.name(codes(i))} field")
    }

    def start(): Unit = {
      writer.reset()
      writer.zeroOutNullBytes()
      java.util.Arrays.fill(valued, 0L)
    }

    def finish(): InternalRow = {
      var i = 0
      while (i < n) {
        if ((valued(i >>> 6) & (1L << i)) == 0) writer.setNullAt(i)
        i += 1
      }
      writer.getRow
    }

    def setNull(i: Int): Unit = { inRange(i); valued(i >>> 6) &= ~(1L << i) }
    def setDouble(i: Int, v: Double): Unit = {
      check(i, WideTypes.DoubleCode); writer.write(i, v); mark(i)
    }
    def setLong(i: Int, v: Long): Unit = {
      check(i, WideTypes.LongCode); writer.write(i, v); mark(i)
    }
    def setInt(i: Int, v: Int): Unit = {
      check(i, WideTypes.IntCode); writer.write(i, v); mark(i)
    }
    def setString(i: Int, v: String): Unit =
      if (v == null) setNull(i)
      else { check(i, WideTypes.StringCode); writer.write(i, UTF8String.fromString(v)); mark(i) }
  }

  /** the rendering of both wide-row nodes: the field count and the
    * first field's name */
  private[plans] def describe(output: Seq[Attribute]): String =
    s"WideRows[${output.length} fields${output.headOption.fold("")(a => s": ${a.name}, …")}]"
}
