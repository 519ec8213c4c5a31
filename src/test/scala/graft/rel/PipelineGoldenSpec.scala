package graft.rel

import graft.SparkSpec

/** The committed p-query goldens (resources/graft/goldens, written by
  * graft.tools.GenGoldens at shuffle.partitions=4) must reproduce
  * bit-for-bit under a different shuffle parallelism — this is the
  * guard that the 6-significant-digit digest rounding really does
  * absorb reduce-order ULP noise in the aggregate-bearing stages
  * (illumination mean, population-filter stats, normalization
  * extents). A failure here means either an intentional semantics
  * change (re-run GenGoldens) or true nondeterminism (fix the op).
  */
class PipelineGoldenSpec extends SparkSpec {
  for ((name, fn) <- PipelineQueries.digestables) {
    test(s"$name digest matches committed golden at shuffle.partitions=17") {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "17")
      val digested = Digest.rows(fn(s2, sfDir), PipelineQueries.DigestKeys)
      val live = Digest.goldenSql(digested, PipelineQueries.DigestKeys)
      val golden = PipelineQueries.goldenName(name)
      val committed = Digest.golden(golden)
        .getOrElse(fail(s"no committed golden $golden — run graft.tools.GenGoldens"))
      assert(live == committed,
        s"$name digest drifted from the committed golden")
    }
  }
}
