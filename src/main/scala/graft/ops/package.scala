package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

package object ops {

  /** Persist (memory, spilling to disk) unless this exact plan is already
    * cached. Re-persisting a cached plan is a no-op that spams CacheManager
    * warnings when two queries share a lineage (the n-gram and MinHash pair
    * operators over one hash set; a bench re-running a query). */
  private[ops] def persistSpillable(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
    else df
}
