package graft.ext

/** Fan independent steps out as concurrent Spark jobs — the documented
  * x217/x242 orchestrator shape (guide §2.6: actions are only
  * sequential because driver code calls them sequentially; concurrent
  * jobs back-fill the tail of each other's stages).
  *
  * ONLY for steps with no commit-order contract between them: disjoint
  * tables (DedupStores' fp/idx pair, a day store's tables) whose replay
  * converges from any interleaving, or read-only probes — never for
  * fenced sequences (ViewStore's correction→view→base order, hh
  * totals→summary) where a crash-window spec pins the order.
  */
private[graft] object Par {

  /** Run `steps` and return their values in step order. Every step runs
    * to the end, a failing one's siblings included: the first failure
    * in step order is rethrown only after all of them finished, so a
    * caller that replays or inspects the stores after a failure never
    * races a sibling commit still landing. One step runs on the
    * caller's thread.
    */
  def all[T](steps: (() => T)*): Seq[T] =
    if (steps.size == 1) Seq(steps.head())
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.sequence(steps.map(st => Future(scala.util.Try(st())))),
        scala.concurrent.duration.Duration(20, "min")).map(_.get)
    }
}
