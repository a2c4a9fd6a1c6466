package org.apache.spark.graft

import org.apache.spark.TaskContext

/** Task contexts for reader unit tests. Lives under `org.apache.spark`
  * because installing a context and marking it killed are `private[spark]`. */
object TaskContexts {
  /** Runs `body` on this thread under a task context that has been killed. */
  def killed[A](body: => A): A = {
    val tc = TaskContext.empty()
    tc.markInterrupted("killed by test")
    TaskContext.setTaskContext(tc)
    try body finally TaskContext.unset()
  }
}
