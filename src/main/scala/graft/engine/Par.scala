package graft.engine

/** Bounded concurrent map over INDEPENDENT per-leaf Spark jobs
  * (optimization guide §2.6: actions are only sequential because the
  * driver calls them sequentially — submitting independent jobs from a
  * small pool lets the next job's tasks back-fill cores freed by the
  * current job's tail). Used by the commit machinery's lock-free
  * staging phases, where each touched leaf's validation + delta write
  * is independent of every other leaf's.
  *
  * Order-preserving; fails loudly with the FIRST failing element's
  * own exception (unwrapped), matching the sequential loop's
  * fail-fast contract. Spark's scheduler is FIFO by default, so
  * earlier leaves keep resource priority and the pool only fills
  * otherwise-idle capacity.
  */
private[graft] object Par {

  def map[A, B](xs: Seq[A], maxPar: Int = 8)(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(xs.size, maxPar))
      try {
        val futs = xs.map { x =>
          pool.submit(new java.util.concurrent.Callable[B] {
            def call(): B = f(x)
          })
        }
        futs.map { fut =>
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally pool.shutdownNow()
    }
}
