package org.apache.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

import scala.reflect.ClassTag

/** The engine's two uses of Spark's own package: the listener-bus drain and
  * the shuffle-free partition fold. Classes here count as Spark's own for
  * its call-site capture, so a job started here is keyed to the engine
  * object that called in, as if it had called `collect` itself.
  */
object GraftBridge {

  /** Drains the listener bus (`private[spark]`), so a counter a listener
    * keeps is complete for every job that already ran (job and task events
    * are posted asynchronously). The side harness reads its listener only
    * after this, and specs use it for exact job counts.
    */
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** One pass over `df`'s rows in ONE Spark job with no exchange of its
    * own: `fold` runs once per partition of the physical plan, on the
    * partition index and its rows, and the results come back in partition
    * order for the caller to merge. Rows are reused buffers: copy what is
    * kept. Per-partition accumulators replace an explode + group-by
    * aggregate, which costs a shuffle-map job, a result job and the
    * aggregate's generated code per call.
    */
  def foldPartitions[A: ClassTag](df: DataFrame)(fold: (Int, Iterator[InternalRow]) => A): Array[A] =
    df.queryExecution.toRdd
      .mapPartitionsWithIndex((i, rows) => Iterator.single(fold(i, rows)))
      .collect()
}
