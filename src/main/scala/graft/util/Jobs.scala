package graft.util

import scala.concurrent.ExecutionContext

/** Execution context for overlapped independent Spark actions (guide
  * §2.6: "actions are only sequential because driver code calls them
  * sequentially"). Every future body at the overlap sites BLOCKS on a
  * Spark action (count / write), so running them on
  * `ExecutionContext.Implicits.global` — a ForkJoinPool whose
  * parallelism equals the core count — can serialize the intended
  * overlap on a small-core host, and a body that is never wrapped in
  * `blocking{}` does not grow the pool (the round-14 advice item). A
  * cached pool of daemon threads keeps job SUBMISSION independent of
  * the compute pool. Spark's inheritable thread-local job properties
  * (description, group, tags) are copied only when a thread is
  * CREATED, and the cached pool reuses an idle thread for up to 60 s:
  * a body may run with the properties of whichever earlier submitter
  * created its thread, not its own. A body that needs a property sets
  * it itself, inside the body.
  */
object Jobs {
  implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-jobs")
      t.setDaemon(true)
      t
    }))
}
