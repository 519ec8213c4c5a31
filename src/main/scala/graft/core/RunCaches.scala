package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The caches one run creates, so that the run can drop exactly those
  * at its end and leave every cache its caller holds in place. A stage
  * that needs its input twice caches it through [[cache]]: the
  * pipeline's prepared stream when a config has an aggregate,
  * illumination correction, and sampling with replacement. The run
  * calls [[release]] once its outputs are written. Thread-safe, so
  * stages built on several threads may share one.
  *
  * The standalone per-op forms `PopulationFilter.apply` and
  * `Normalization.normalize` take no `RunCaches`: they cache their
  * input themselves and leave it to the caller's scope.
  */
final class RunCaches {
  private val created = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  /** `ds`, cached. Remembered for [[release]] only if this call created
    * the cache: a plan the caller already cached stays the caller's. */
  def cache[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.storageLevel == StorageLevel.NONE) {
      ds.cache()
      synchronized { created += ds }
    }
    ds
  }

  /** Unpersists every cache [[cache]] created, the latest first (a later
    * cache may read an earlier one), without blocking. */
  def release(): Unit = synchronized {
    created.reverseIterator.foreach(_.unpersist(blocking = false))
    created.clear()
  }
}
