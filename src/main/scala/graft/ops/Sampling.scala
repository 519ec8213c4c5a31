package graft.ops

import graft.core.{ImageEvent, RunCaches}
import graft.core.Codecs._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.rand

/** Sampling / limit — reference L1/L2 (main.py:191-196). */
object Sampling {

  /** exact-k sample without replacement: seeded rand sort + limit.
    * At scale this is a TakeOrderedAndProject (per-partition top-k,
    * k rows to the driver stage), not a full sort. */
  def sampleExact(ds: Dataset[ImageEvent], k: Int, seed: Long = 42): Dataset[ImageEvent] = {
    ds.orderBy(rand(seed)).limit(k).as[ImageEvent]
  }

  /** L2: exact-k random choices WITH replacement (main.py:193-194
    * `choices(images, k)`): per-record multinomial replication counts
    * from a seeded hash, then explode. Distributed — no driver
    * collection; the oversample+limit trims the (tiny, whp) surplus. */
  def sampleWithReplacement(ds: Dataset[ImageEvent], k: Int, seed: Long = 42,
      caches: RunCaches = new RunCaches): Dataset[ImageEvent] = {
    // cache: the count, the draw(s), and the final trim each execute
    // the full upstream plan otherwise (released at the run boundary —
    // Cli's RunCaches / Verify's per-query scope)
    val cached = caches.cache(ds)
    val n = cached.count()
    if (n == 0) return cached
    // Poisson(k/n) replication approximates multinomial; oversample by
    // 2x + 8 then exact-k via deterministic order. The draw falls short
    // of k with probability ~e^-(k+8); the reference's choices(images, k)
    // is always exactly k, so retry with a doubled rate and a shifted
    // (still deterministic) seed rather than return a short sample.
    var mult = 2.0
    var attempt = 0
    var pool = cached.sample(withReplacement = true, (k * mult + 8.0) / n, seed)
    var drawn = pool.count()
    while (drawn < k && attempt < 8) {
      attempt += 1
      mult *= 2
      pool = cached.sample(withReplacement = true, (k * mult + 8.0) / n, seed + attempt)
      drawn = pool.count()
    }
    // 8 doublings put the final rate at 512·k/n — a shortfall there is
    // not statistics, it's a broken source; returning < k silently
    // would reintroduce the exact defect the retry exists to fix
    require(drawn >= k,
      s"sampleWithReplacement: drew $drawn < k=$k after $attempt retries (n=$n)")
    pool.orderBy(rand(seed + 1))
      .limit(k)
      .as[ImageEvent]
  }
}
