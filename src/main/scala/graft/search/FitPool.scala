package graft.search

import org.apache.spark.sql.SparkSession

import java.util.concurrent.Executors

/** Driver-side concurrent Spark-job submission for independent actions —
  * the engine's analog of the reference's model-fit parallelism knob
  * (`n_jobs`, `FairExp_scalability_new_parallel.py:69,224-256`) and SURVEY
  * §2.4's "driver thread pool submitting concurrent Spark jobs (fair
  * scheduler)".
  *
  * Its callers hold a handful of actions with no data dependency between
  * them, each touching a few small partitions, so each is bound by job
  * latency rather than data: FairExp's and Boruta's spark.ml fits, the
  * independent aggregations of one `Fitter` pass and of `MIScorer`, the
  * checkpoint writes of a layer, and the property gates' independent
  * checks. Submitting them from driver threads overlaps the scheduling
  * latencies and lets the scheduler fill the executor; each task gets its
  * own FAIR-scheduler pool (pools are fair-shared against each other, so no
  * task starves behind another — `spark.scheduler.mode=FAIR` is set by the
  * entry points). CV-LR scoring does not use it: [[LrScorer]] fits all
  * its models in one batch.
  *
  * Determinism: results are collected in TASK order, not completion order —
  * concurrency never changes which task's result lands where. It does not
  * make the floats of a task bit-stable when the task itself reduces in
  * completion order (spark.ml's treeAggregate does, sequential or not), so
  * consumers of such floats round or epsilon-compare them before any
  * tie-sensitive decision.
  *
  * The pool is an unbounded daemon cached-thread pool: tasks block on Spark
  * job results, so a bounded pool would deadlock under nested use (e.g. a
  * property gate running searches concurrently whose `Fitter` passes submit
  * their own aggregations); actual CPU concurrency is bounded by the Spark
  * scheduler, not by thread count, and in-flight thread count is bounded by
  * the caller's task list.
  */
object FitPool {

  private lazy val exec = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-fit")
    t.setDaemon(true)
    t
  }

  /** Run independent thunks concurrently (heterogeneous tasks — e.g. the
    * property-gate queries' independent checks); results in call order.
    */
  def all[A](spark: SparkSession, label: String)(thunks: (() => A)*): Seq[A] =
    map(spark, label, thunks)(t => t())

  /** Map `f` over `xs` with concurrent Spark-job submission; each task runs
    * in its own FAIR pool named `label-i`. Exceptions propagate (first by
    * task order). Falls back to a plain map for 0/1 tasks.
    */
  def map[A, B](spark: SparkSession, label: String, xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.lengthCompare(1) <= 0) return xs.map(f)
    val sc = spark.sparkContext
    val futures = xs.zipWithIndex.map { case (a, i) =>
      exec.submit(new java.util.concurrent.Callable[B] {
        def call(): B = {
          // pool index recycles mod 32: the scheduler retains every pool it
          // has ever seen, so unbounded names would leak in a long-lived
          // driver; the label set is small and 32 fair shares is plenty
          sc.setLocalProperty("spark.scheduler.pool", s"$label-${i % 32}")
          try f(a)
          finally sc.setLocalProperty("spark.scheduler.pool", null)
        }
      })
    }
    futures.map { fut =>
      try fut.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }
  }
}
