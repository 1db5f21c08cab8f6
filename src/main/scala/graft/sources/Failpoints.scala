package graft.sources

import org.apache.hadoop.fs.Path

/** The one crash-injection seam of the store layer. Every DURABLE step
  * reports the path it made durable: a [[ManifestStore]] commit at the
  * end of its single publish step (after the `_latest` hint), and a
  * [[graft.ext.StoreSidecar]] file write (the geometry sidecar, or a
  * marker set or cleared). A step is keyed by (path, n-th durable step
  * on that path since the scope was armed), so its key stays stable
  * when `Par.all` commits disjoint tables concurrently. Specs crash a
  * public store operation with [[crashAfter]] and list a crash-free
  * run's steps with [[steps]]; unarmed, a step costs one volatile read.
  */
private[graft] object Failpoints {

  /** The `nth` durable step on `path` (scheme-less, normalized). */
  final case class Step(path: String, nth: Int)

  final class Crash(val step: Step) extends RuntimeException(s"failpoint: crash after $step")

  private final class Scope(val target: Option[Step]) {
    val taken = scala.collection.mutable.ArrayBuffer.empty[Step]
    @volatile var fired = false
  }

  @volatile private var armed: Scope = null

  def step(path: String): Unit = {
    val scope = armed
    if (scope != null) {
      val p = new Path(path).toUri.getPath
      val st = scope.synchronized {
        val st = Step(p, scope.taken.count(_.path == p) + 1)
        scope.taken += st
        st
      }
      if (scope.target.contains(st)) { scope.fired = true; throw new Crash(st) }
    }
  }

  private def within(scope: Scope)(body: => Unit): Seq[Step] = {
    synchronized {
      require(armed == null, "Failpoints: a scope is already armed (scopes do not nest)")
      armed = scope
    }
    try body finally armed = null
    scope.synchronized(scope.taken.toSeq)
  }

  /** The durable steps `body` took, in the order they landed. */
  def steps(body: => Unit): Seq[Step] = within(new Scope(None))(body)

  /** Run `body`, crash it right after its `nth` durable step on `path`,
    * and return once the crash unwound it. Fails loudly when the step
    * never happens or `body` swallows the crash: a crash window that
    * did not open proves nothing.
    */
  def crashAfter(path: String, nth: Int = 1)(body: => Unit): Unit = {
    val target = Step(new Path(path).toUri.getPath, nth)
    val scope = new Scope(Some(target))
    val taken =
      try within(scope)(body)
      catch { case c: Crash if c.step == target => return }
    throw new IllegalStateException(
      if (scope.fired) s"Failpoints: the crash after $target was swallowed by the body"
      else s"Failpoints: step $target never happened (steps taken: ${taken.mkString(", ")})")
  }
}
