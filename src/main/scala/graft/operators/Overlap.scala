package graft.operators

/** Overlap INDEPENDENT driver actions (the optimization-guide discipline:
  * Spark happily runs several jobs at once inside one application — actions
  * are only sequential because the driver calls them sequentially, and the
  * tail tasks of each job leave most of the cluster idle). Callers hand in
  * thunks with NO data dependencies between them; each thunk may run many
  * actions (checkpoints, collects, commits). FIFO scheduling backfills the
  * current job's straggler tail with the next job's tasks, so the overlap
  * wins exactly the idle-capacity time — and on a small core budget it
  * degrades to the sequential cost, never below it.
  *
  * Failure contract: the FIRST failure rethrows on the calling thread after
  * all thunks settle, so a caller (e.g. a foreachBatch body) fails the whole
  * unit of work exactly as the sequential shape did — no commit is ever
  * half-skipped silently.
  */
private[graft] object Overlap {

  /** Run the thunks concurrently on daemon threads sized to the thunk
    * count (bounded: callers pass a handful of sections, never per-row
    * work), return their results in order.
    */
  private def runAll(fs: Seq[() => Any]): Seq[Any] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      fs.size,
      (r: Runnable) => {
        val t = new Thread(r, "graft-overlap")
        t.setDaemon(true)
        t
      })
    try {
      val futs = fs.map(f => pool.submit(new java.util.concurrent.Callable[Any] {
        override def call(): Any = f()
      }))
      // collect every outcome before throwing, so one section's failure
      // never leaves another's Spark jobs racing a caller that already
      // unwound (then rethrow the first failure, unwrapped)
      val outcomes = futs.map(f =>
        try Right(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Left(Option(e.getCause).getOrElse(e))
          // fatal errors too: runAll rethrows the first failure below
          case e: Throwable => Left(e)
        })
      outcomes.collectFirst { case Left(e) => e }.foreach(e => throw e)
      outcomes.map(_.toOption.get)
    } finally pool.shutdown()
  }

  def par2[A, B](fa: () => A, fb: () => B): (A, B) = {
    val r = runAll(Seq(fa, fb))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def par3[A, B, C](fa: () => A, fb: () => B, fc: () => C): (A, B, C) = {
    val r = runAll(Seq(fa, fb, fc))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  def par4[A, B, C, D](fa: () => A, fb: () => B, fc: () => C,
      fd: () => D): (A, B, C, D) = {
    val r = runAll(Seq(fa, fb, fc, fd))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C],
      r(3).asInstanceOf[D])
  }
}
