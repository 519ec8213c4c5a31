package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Regenerates the committed p-query goldens
  * (src/main/resources/graft/goldens/<name>.sql, or
  * <name>.fallback.sql for a cell that read its stand-in for absent
  * reference data — see PipelineQueries.goldenName): runs each digest
  * query's wide table, reduces it with [[graft.rel.Digest.rows]] (the
  * same call the registry makes), and renders the DuckDB `VALUES`
  * oracle. Run after any intentional
  * change to pipeline/kernel semantics, then re-run the suite —
  * PipelineGoldenSpec asserts the committed goldens still match live
  * output under a different parallelism (catching any nondeterminism
  * the 6-significant-digit rounding fails to absorb).
  *
  *   sbt "runMain graft.tools.GenGoldens"
  */
object GenGoldens {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("src/main/resources/graft/goldens")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val keys = graft.rel.PipelineQueries.DigestKeys
    graft.rel.PipelineQueries.digestables.foreach { case (name, fn) =>
      val out = fn(spark, "/root/testdata/sf0.01")
      val digested = graft.rel.Digest.rows(out, keys)
      val sql = graft.rel.Digest.goldenSql(digested, keys)
      Files.writeString(Paths.get(s"$outDir/${graft.rel.PipelineQueries.goldenName(name)}.sql"), sql)
      println(s"[gen-goldens] $name: ${sql.linesIterator.size - 3} rows")
    }
    spark.stop()
  }
}
