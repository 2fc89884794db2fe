package org.apache.spark.rdd

/** Bridge to the package-private block release behind `RDD.unpersist`. */
object GraftCheckpoints {

  /** `rdd.unpersist(blocking)`, but a locally checkpointed `rdd` is released
    * without Spark's warning that its lineage "cannot be recomputed after
    * unpersisting": the same block removal, persistent-RDD deregistration and
    * listener event, for a caller that releases only what nothing reads
    * again. Such an RDD keeps its storage level field; nothing reads a
    * released checkpoint. */
  def release(rdd: RDD[_], blocking: Boolean): Unit =
    if (rdd.isLocallyCheckpointed) rdd.context.unpersistRDD(rdd.id, blocking)
    else rdd.unpersist(blocking)
}
