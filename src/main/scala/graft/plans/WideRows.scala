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

/** Whole-operator wide row: one record → one row of a declared schema
  * (the imaging feature table: ~2700 columns on the reference config).
  *
  * `Dataset.map(...)(Encoders.row(schema))` boxes every record into a
  * `Row` and then serializes it through one planned expression per
  * field. This node skips both: `cells` returns the row's values in
  * schema order, and the exec writes them with one `UnsafeRowWriter`
  * per partition, by a per-field type code computed once per plan
  * before any task runs. No projection is generated: with ~2700
  * fields, building and hashing its Java source cost more per task
  * than writing the rows.
  * The child is a
  * `DeserializeToObject` of the event encoder (bound once, by the
  * analyzer), which the optimizer's `EliminateSerialization`
  * removes whenever the input already holds objects (a preceding typed
  * map), so an upstream map feeds its objects straight in.
  *
  * A plain unary node, not an RDD-backed relation: size estimates flow
  * through from the child as they do through an object map, so joins
  * over the wide frame keep the strategy and partitioning they had.
  */
case class WideRowsPlan(output: Seq[Attribute], cells: ImageEvent => Array[Any],
    child: LogicalPlan) extends ObjectConsumer {
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): WideRowsPlan =
    copy(child = newChild)
}

/** Planner rule for [[WideRowsPlan]]. The CLI's session, and any
  * session a caller builds, carries no graft extensions, so
  * `Features.wideFrame` installs the rule with [[setup]] at use. */
object WideRowsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case WideRowsPlan(output, cells, child) =>
      WideRowsExec(output, cells, planLater(child)) :: Nil
    case _ => Nil
  }

  /** install on the session once; later calls are no-ops */
  def setup(session: SparkSession): Unit = synchronized {
    val experimental = session.experimental
    if (!experimental.extraStrategies.contains(this))
      experimental.extraStrategies = this +: experimental.extraStrategies
  }
}

case class WideRowsExec(output: Seq[Attribute], cells: ImageEvent => Array[Any],
    child: SparkPlan) extends ObjectConsumerExec {

  // one row out per row in, as for MapElementsExec
  override def outputPartitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): WideRowsExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val getObject = ObjectOperator.unwrapObjectFromRow(inputObjectType)
    val f = cells
    val codes = output.map(a => WideRowsExec.typeCode(a.name, a.dataType)).toArray
    child.execute().mapPartitions { it =>
      val writer = new UnsafeRowWriter(codes.length)
      it.map { in =>
        val values = f(getObject(in).asInstanceOf[ImageEvent])
        if (values.length != codes.length) throw new IllegalStateException(
          s"wide row has ${values.length} cells, schema has ${codes.length} fields")
        writer.reset()
        writer.zeroOutNullBytes()
        var i = 0
        while (i < values.length) {
          val v = values(i)
          if (v == null) writer.setNullAt(i)
          else codes(i) match {
            case WideRowsExec.DoubleCode => writer.write(i, v.asInstanceOf[Double])
            case WideRowsExec.LongCode => writer.write(i, v.asInstanceOf[Long])
            case WideRowsExec.IntCode => writer.write(i, v.asInstanceOf[Int])
            case WideRowsExec.StringCode =>
              writer.write(i, UTF8String.fromString(v.asInstanceOf[String]))
          }
          i += 1
        }
        writer.getRow
      }
    }
  }
}

object WideRowsExec {
  private final val DoubleCode = 0
  private final val LongCode = 1
  private final val IntCode = 2
  private final val StringCode = 3

  /** how a field's cells are written: wide rows carry doubles, longs,
    * ints and strings only */
  private def typeCode(field: String, dt: DataType): Int = dt match {
    case DoubleType => DoubleCode
    case LongType => LongCode
    case IntegerType => IntCode
    case StringType => StringCode
    case other => throw new UnsupportedOperationException(
      s"wide row field $field has type ${other.simpleString}; " +
        "only double, bigint, int and string fields can be written")
  }
}
