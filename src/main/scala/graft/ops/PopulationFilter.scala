package graft.ops

import graft.core.ImageEvent
import graft.core.Codecs._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Population threshold filter — reference F2
  * (filter/threshold.py:8-27, wired main.py:214-228): per-record
  * stat = sum of the main channel; population mean/std of that stat;
  * keep records with stat > Φ⁻¹(0.05; μ, σ), tombstone the rest.
  *
  * The aggregate-then-filter shape: stats are one partial+final
  * aggregate (2 doubles shuffled per key), broadcast back into the row
  * pass — the decorrelated-scalar-subquery plan Catalyst would build
  * for the SQL equivalent (see rel.RelQueries q18). The fused pipeline
  * takes the thresholds of all its branch chains in one such aggregate,
  * keyed by chain ([[thresholds]]).
  */
object PopulationFilter {

  /** Φ⁻¹(0.05) — scipy.stats.norm.ppf(0.05) */
  val Z05 = -1.6448536269514722

  /** per-record stat = sum of channel 0 — the reference hardcodes
    * index 0, not the main channel (filter/threshold.py:8-13:
    * `part[i]["pixels"][0].sum()`) */
  def filterSum(e: ImageEvent): Double = {
    var s = 0.0
    var i = 0
    val ps = e.planeSize
    while (i < ps) { s += e.pixels(i); i += 1 }
    s
  }

  /** The threshold μ + Φ⁻¹(0.05)·σ of each key's filter sums, from
    * (key, [[filterSum]]) pairs of pixel-bearing records. A key without
    * any such record is absent: its threshold is −∞ and keeps all. */
  def thresholds(sums: Dataset[(Int, Double)]): Map[Int, Double] =
    sums.toDF("key", "s").groupBy("key")
      // dask.bag.std is the population std (ddof=0)
      .agg(avg("s"), stddev_pop("s"))
      .collect()
      .map(r => r.getInt(0) -> (r.getDouble(1) + Z05 * r.getDouble(2)))
      .toMap

  /** `e` itself when its filter sum is above `q5`, else its tombstone */
  def keepRecord(q5: Double)(e: ImageEvent): ImageEvent =
    if (!e.hasPixels || filterSum(e) > q5) e else e.tombstone

  /** [[keepRecord]] over `ds` with its own [[thresholds]]. Caches `ds`
    * for the stats pass and the predicate pass and leaves the cache to
    * the caller's scope, as [[Normalization.normalize]] does. */
  def apply(spark: SparkSession, ds: Dataset[ImageEvent]): Dataset[ImageEvent] = {
    import spark.implicits._
    val cached = ds.cache() // reused: stats pass + predicate pass (main.py:219 persist)
    val q5 = thresholds(cached.filter(_.hasPixels).map(e => (0, filterSum(e))))
      .getOrElse(0, Double.NegativeInfinity)
    cached.map(keepRecord(q5))
  }
}
