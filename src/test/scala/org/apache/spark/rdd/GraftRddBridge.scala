package org.apache.spark.rdd

/** Bridge into the private[rdd] checkpoint state of an RDD. */
object GraftRddBridge {

  /** Whether `rdd` or any RDD in its lineage is locally checkpointed. */
  def readsLocalCheckpoint(rdd: RDD[_]): Boolean = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Boolean = seen.add(r.id) &&
      (r.isLocallyCheckpointed || r.dependencies.exists(d => walk(d.rdd)))
    walk(rdd)
  }
}
