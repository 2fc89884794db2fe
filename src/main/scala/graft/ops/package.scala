package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

package object ops {

  /** Persist (memory, spilling to disk) unless this exact plan is already
    * cached. Re-persisting a cached plan is a no-op that spams CacheManager
    * warnings when two queries share a lineage (the n-gram and MinHash pair
    * operators over one hash set; a bench re-running a query). */
  private[ops] def persistSpillable(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
    else df

  /** Free what `ds` materializes. A (local) checkpoint's blocks belong to the
    * RDD behind its `LogicalRDD` leaf — `Dataset.unpersist()` does not free
    * them — so that RDD is unpersisted; a persisted plan leaves CacheManager.
    * A released checkpoint cannot be recomputed, so release only what
    * nothing reads again; that is expected, so Spark's per-unpersist warning
    * about it is not logged. */
  def release(ds: Dataset[_]): Unit = ds.queryExecution.analyzed match {
    case cp: LogicalRDD => org.apache.spark.rdd.GraftCheckpoints.release(cp.rdd, blocking = false)
    case _ => ds.unpersist()
  }
}
