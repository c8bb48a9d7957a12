package graft.operators

/** Overlap of independent driver-side actions. */
object Par {

  /** Evaluate `a` on a daemon thread and `b` on the calling thread,
    * concurrently, and return both results. Both sides always run to
    * completion before this returns, so a failing side leaves no
    * thread and no job still filling a cache behind it; the first
    * failure (`a`'s before `b`'s) is rethrown with the other attached
    * as suppressed. The side thread inherits the caller's Spark local
    * properties and [[Pins.scoped]] scope.
    */
  def both[A, B](a: => A, b: => B): (A, B) = {
    def attempt[T](t: => T): Either[Throwable, T] =
      try Right(t) catch { case e: Throwable => Left(e) }
    var ra: Either[Throwable, A] = Left(new IllegalStateException("side not run"))
    val side = new Thread(() => ra = attempt(a), "graft-par-both")
    side.setDaemon(true)
    side.start()
    val rb = try attempt(b) finally side.join()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), other) => other.left.foreach(e.addSuppressed); throw e
      case (_, Left(e)) => throw e
    }
  }
}
