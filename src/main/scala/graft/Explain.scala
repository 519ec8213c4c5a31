package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of one or more
  * registered queries — the `.explain` feedback loop for verifying
  * pushdown / pruning / broadcast / codegen spans.
  *
  * Usage: `runMain graft.Explain <sfDir> <queryName>...`
  *        `runMain graft.Explain <sfDir> all` (plan-shape summary)
  *
  * `SPARK_GRAFT_EXPLAIN_CONF=k1=v1,k2=v2` sets session confs before any
  * query is built. The value is split on every `,`, so a conf value
  * that itself contains a comma cannot be passed this way.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // audit FULL plans: suppress optimization-only lineage cuts, whose
    // eager localCheckpoint would run real jobs at DataFrame build and
    // hide the checkpointed subtree behind Scan ExistingRDD
    sys.props("graft.lineage.nocut") = "true"
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSeq match {
      case Seq() | Seq("all") => SparkEntry.queries.keys.toSeq.sorted
      case xs => xs
    }
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // audit alternate plan shapes (e.g. q38's size-gated broadcast
    // fallback): comma-separated k=v session confs applied before any
    // query is built
    sys.env.get("SPARK_GRAFT_EXPLAIN_CONF").foreach(_.split(',')
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    val full = args.drop(1).toSeq != Seq("all") && args.length > 1
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      if (full) {
        println(s"==== $name")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } else {
        // one-line plan-shape summary: scans/pushdown/joins/aggs/codegen
        val pushed = plan.split("\n").count(_.contains("PushedFilters: ["))
        val pushedNonEmpty = plan.split("\n")
          .count(l => l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))
        val bhj = plan.split("\n").count(_.contains("BroadcastHashJoin"))
        val smj = plan.split("\n").count(_.contains("SortMergeJoin"))
        val agg = plan.split("\n").count(_.contains("HashAggregate"))
        // codegen stages appear as "*(n) Op" in the plan string
        val codegen = "\\*\\(\\d+\\)".r.findAllIn(plan).map(_.toString).toSet.size
        println(f"$name%-28s scans=$pushed pushed=$pushedNonEmpty bhj=$bhj smj=$smj hashAgg=$agg codegenSpans=$codegen")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
