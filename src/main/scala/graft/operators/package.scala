package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

package object operators {

  private[operators] implicit final class PersistFilled[T](private val ds: Dataset[T])
      extends AnyVal {

    /** `persist()`, then one `count()` when no equal plan is cached yet.
      * A cache read by concurrent consumers (self-join sides, broadcast
      * builds on their own threads) must be filled before they start:
      * against an empty cache each would recompute the child plan. When
      * an equal plan is already cached the fill job is skipped. A
      * partially filled entry recomputes only its missing partitions.
      */
    def persistFilled(): Dataset[T] = {
      val warm = ds.storageLevel != StorageLevel.NONE
      val p = ds.persist()
      if (!warm) p.count()
      p
    }
  }
}
