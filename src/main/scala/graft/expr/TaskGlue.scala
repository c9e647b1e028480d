package org.apache.spark.sql.graftglue

import org.apache.spark.TaskContext

/** Run a block under a task's `TaskContext` on a thread that is not the
  * task's own. `TaskContext.setTaskContext` and `unset` are
  * `protected[spark]`, hence this shim inside the spark package, beside
  * [[ExprGlue]]. `ingest.Fetch` runs its fetcher on pool threads through
  * it, so the fetcher sees its task as it would on the task thread.
  */
object TaskGlue {
  def withTaskContext[T](tc: TaskContext)(body: => T): T = {
    TaskContext.setTaskContext(tc)
    try body
    finally TaskContext.unset()
  }
}
