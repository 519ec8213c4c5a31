package graft.rel

import graft.plans.{ArrayCells, WideRowsPlan}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Value-check support for the imaging p-queries (whose sources are
  * deterministic fixtures, not the star schema, so no DuckDB re-derived
  * oracle is possible): the query output is reduced to one stable
  * digest row per record — every column of the wide feature table is
  * folded as `name=value` (doubles at 6 significant digits, absorbing
  * partial-aggregation ULP noise) into an md5 — and the committed
  * golden is a DuckDB `VALUES` literal of those digests. This is the
  * committed-golden equivalent of the reference's own e2e value
  * assertions (/root/reference/test/test_main.py:42-52): any change to
  * a feature value, column set, or row set flips the hash the driver
  * compares.
  *
  * There is one entry, [[rows]], and the frame's plan picks how it
  * digests: a [[graft.plans.WideRowsPlan]] frame (every imaging
  * pipeline's wide table) is digested inside that node, anything else
  * by a Catalyst projection. DigestSpec pins the two equal.
  */
object Digest {

  /** md5 hex of a string (driver-side, for the schema fingerprint) */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Reduce a wide deterministic table to `(keys..., row_digest,
    * schema_digest)` — all strings, ordered by the keys. The schema
    * digest pins the exact column name/type set; the row digest pins
    * every value (column names included, so a silently-reordered or
    * renamed column cannot alias another).
    */
  def rows(df: DataFrame, keyCols: Seq[String]): DataFrame =
    (df.queryExecution.analyzed match {
      case w: WideRowsPlan => GraftBridge.ofRows(df.sparkSession, wideDigest(w, keyCols))
      case _ => projected(df, keyCols)
    }).orderBy(keyCols.map(col): _*)

  /** [[rows]] for any frame: one planned expression chain per column */
  private def projected(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val fields = df.schema.fields.sortBy(_.name)
    val schemaDigest = md5hex(
      fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))
    val cells: Seq[Column] = fields.toSeq.map { f =>
      val v: Column = f.dataType match {
        case DoubleType | FloatType =>
          // +0.0 canonicalizes -0.0; 6 significant digits absorb
          // reduce-order ULP differences in upstream double sums
          when(col(f.name).isNull, lit("null"))
            .when(isnan(col(f.name)), lit("NaN"))
            .otherwise(format_string("%.6g", col(f.name).cast("double") + lit(0d)))
        case _ => coalesce(col(f.name).cast("string"), lit("null"))
      }
      concat(lit(f.name + "="), v)
    }
    df.select(
      keyCols.map(k => col(k).cast("string").as(k)) ++ Seq(
        md5(concat_ws("|", cells: _*)).as("row_digest"),
        lit(schemaDigest).as("schema_digest")): _*)
  }

  /** [[rows]] for a wide-row frame: the same node over the same child,
    * whose cells reduce the original row (taken whole, as Scala values)
    * to its keys and digests. The
    * planned schema is keys + 2 strings instead of the wide row plus
    * ~5 expression nodes per column that [[projected]] plans (Catalyst
    * spent 2.3 s of a 2.9 s p01 cell there; RuleExecutor dump in
    * OPTIMIZATION_r16.md). */
  private def wideDigest(w: WideRowsPlan, keyCols: Seq[String]): WideRowsPlan = {
    val sch = DataTypeUtils.fromAttributes(w.output)
    val (schemaDigest, digestFn) = fusedDigester(sch)
    val keyIdx = keyCols.map(sch.fieldIndex).toArray
    val outSch = StructType(
      (keyCols ++ Seq("row_digest", "schema_digest")).map(StructField(_, StringType)))
    val fill = w.fill
    val n = w.output.length
    WideRowsPlan(DataTypeUtils.toAttributes(outSch), { (e, out) =>
      val all = ArrayCells.of(n, e, fill)
      // cast-to-string key semantics of [[projected]] (null stays
      // null; int/long/string render identically to Spark's cast)
      var k = 0
      while (k < keyIdx.length) {
        val v = all(keyIdx(k))
        out.setString(k, if (v == null) null else v.toString)
        k += 1
      }
      out.setString(k, digestFn(all))
      out.setString(k + 1, schemaDigest)
    }, w.child)
  }

  /** [[projected]]'s row digest as one closure built per wide schema,
    * for a pass that already holds each row's cells. Semantics
    * replicate [[projected]] bit for bit: fields sorted by name,
    * `name=value` joined with "|", doubles as %.6g via a Locale.US
    * Formatter (what Spark's format_string uses) after +0.0
    * canonicalization and null/NaN literals, non-doubles via
    * cast-to-string, md5 lowercase hex over UTF-8. Returns
    * (schema_digest, row-in-SCHEMA-FIELD-ORDER => row_digest). */
  private def fusedDigester(schema: StructType)
      : (String, Array[Any] => String) = {
    val fields = schema.fields.sortBy(_.name)
    val schemaDigest = md5hex(
      fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))
    val byName = schema.fieldNames.zipWithIndex.toMap
    val srcIdx = fields.map(f => byName(f.name))
    val floating = fields.map(f =>
      f.dataType == DoubleType || f.dataType == FloatType)
    val prefixes = fields.map(_.name + "=")
    val n = fields.length
    val fn = (row: Array[Any]) => {
      val sb = new java.lang.StringBuilder(n * 24)
      val fmt = new java.util.Formatter(sb, java.util.Locale.US)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append('|')
        sb.append(prefixes(i))
        val v = row(srcIdx(i))
        if (v == null) sb.append("null")
        else if (floating(i)) {
          val d = v match {
            case dd: java.lang.Double => dd.doubleValue()
            // cast("double") widening, identical to Spark's float cast
            case ff: java.lang.Float => ff.doubleValue()
            case other => throw new IllegalStateException(
              s"fusedDigester: non-numeric $other in floating field")
          }
          if (java.lang.Double.isNaN(d)) sb.append("NaN")
          else { fmt.format("%.6g", java.lang.Double.valueOf(d + 0d)); () }
        } else sb.append(v.toString)
        i += 1
      }
      md5hex(sb.toString)
    }
    (schemaDigest, fn)
  }

  /** committed golden for a digest query, if generated (resources
    * written by [[graft.tools.GenGoldens]]) */
  def golden(name: String): Option[String] = {
    val in = getClass.getResourceAsStream(s"/graft/goldens/$name.sql")
    if (in == null) None
    else try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  /** render a collected digest table as the DuckDB oracle `VALUES`
    * literal (all columns VARCHAR on both sides) */
  def goldenSql(digested: DataFrame, keyCols: Seq[String]): String = {
    val cols = digested.columns
    val rows = digested.collect().map { r =>
      cols.indices.map { i =>
        "'" + String.valueOf(r.get(i)).replace("'", "''") + "'"
      }.mkString("(", ", ", ")")
    }
    require(rows.nonEmpty, "empty digest table — refusing to commit an empty golden")
    s"""SELECT * FROM (VALUES
       |${rows.mkString(",\n")}
       |) AS t(${cols.mkString(", ")})
       |ORDER BY ${keyCols.mkString(", ")}""".stripMargin
  }
}
