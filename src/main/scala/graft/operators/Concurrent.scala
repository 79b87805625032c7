package graft.operators

/** Driver-side overlap of INDEPENDENT Spark work (optimization guide
  * §2.6): Spark happily schedules several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. Queries whose plans contain two or more independent
  * legs that each materialize internally (iterative operators with
  * per-round actions, `localCheckpoint`ed channel outputs) leave most of
  * the machine idle during each leg's stage tails; evaluating the legs on
  * a small driver pool lets the other leg's tasks back-fill those gaps.
  * Results are unchanged — each leg is the same deterministic computation,
  * just submitted from its own thread (job groups/descriptions are
  * thread-local, so UI labels stay correct). This is the engine's one
  * driver pool: [[graft.jobs.PipelineRunner.runSubjectArea]] and
  * [[graft.streaming.StreamWaves.stageAll]] run on it too. */
object Concurrent {

  /** Apply `f` to every item on a fresh pool of at most `width` threads
    * and return the results in input order. A failure is rethrown as its
    * own exception (not wrapped in an `ExecutionException`): the first one
    * in input order once that item's result is awaited. The pool is shut
    * down on every path; items still running after a failure finish on
    * their own threads. */
  def parMap[A, B](items: Seq[A], width: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(items.size, width)))
    try {
      val futures = items.toVector.map(a => pool.submit(
        new java.util.concurrent.Callable[B] { override def call(): B = f(a) }))
      futures.map(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
  }

  /** Evaluate two independent thunks concurrently; rethrows the first
    * failure. Each thunk must fully materialize its own work (run its
    * driver loop / checkpoint its frame) for the overlap to be real. */
  def inParallel[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = parMap(Seq[() => Any](() => a, () => b), 2)(_())
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }
}
