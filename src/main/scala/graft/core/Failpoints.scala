package graft.core

/** Test-only fault injection for multi-step catalog mutations.
  *
  * The recovery paths added around the staged builds (contract commit,
  * erasure staging, relayout rename-aside) each have a failure WINDOW —
  * "crash exactly between these two catalog operations" — that no
  * input-driven test can reach: the steps succeed or fail together under
  * normal execution. Specs arm a named failpoint and the guarded window
  * throws a planted [[Failpoints.Injected]] at precisely that boundary,
  * letting each window's rollback / recovery contract be asserted
  * directly (FaultInjectionSpec).
  *
  * Production cost is a single read of a volatile reference that is
  * `Map.empty` outside tests — no lock is taken unless a spec armed
  * something.
  */
object Failpoints {

  /** The planted failure — distinct type so specs can assert the error
    * they observe is the injected one, not an incidental bug. */
  final class Injected(val point: String)
      extends RuntimeException(s"failpoint fired: $point")

  @volatile private var armed: Map[String, (Int, Int)] = Map.empty

  /** Arm `point` to fire on its `times` traversals after the next `after`. */
  def arm(point: String, times: Int = 1, after: Int = 0): Unit = synchronized {
    armed = armed.updated(point, (after, times))
  }

  def disarmAll(): Unit = synchronized { armed = Map.empty }

  /** Window boundary marker — no-op unless a spec armed this point. */
  def check(point: String): Unit =
    if (armed.nonEmpty) synchronized {
      armed.get(point) match {
        case Some((pass, n)) if pass > 0 => armed = armed.updated(point, (pass - 1, n))
        case Some((_, n)) if n > 0 =>
          armed = if (n == 1) armed - point else armed.updated(point, (0, n - 1))
          throw new Injected(point)
        case _ => ()
      }
    }
}
