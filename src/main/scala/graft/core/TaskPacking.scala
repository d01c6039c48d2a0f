package graft.core

/** Driver-side placement of known work items onto a fixed number of
  * tasks, for exchanges routed by an explicit partition id
  * (`repartitionById`): AQE coalesces a small group-by shuffle into one
  * partition, an explicit-id exchange keeps the count it is given.
  */
object TaskPacking {
  /** Greedy largest-first packing: the task of each item (`sizes` in the
    * caller's order) on min(#items, cores) tasks — items sorted by size,
    * largest first, each onto the least loaded task so far. Returns
    * (task count, task per item). Ties keep the caller's order, so the
    * placement is deterministic.
    */
  def leastLoaded(sizes: IndexedSeq[Long], cores: Int): (Int, IndexedSeq[Int]) = {
    val n = math.max(1, math.min(sizes.size, cores))
    val load = new Array[Long](n)
    val task = new Array[Int](sizes.size)
    sizes.indices.sortBy(i => -sizes(i)).foreach { i =>
      val t = load.indices.minBy(load(_))
      load(t) += sizes(i)
      task(i) = t
    }
    (n, task.toIndexedSeq)
  }
}
