package graft

import graft.ext.{Par, StoreSidecar}
import graft.sources.Failpoints

/** The crash hook's own contract. */
class FailpointsSpec extends SparkSpec {

  test("steps are numbered per path; a crash that never opens or is swallowed fails loudly") {
    val root = graft.Scratch.path(s"fpspec_${java.util.UUID.randomUUID().toString.take(8)}")
    def set(name: String) = StoreSidecar.setMarker(spark, root, name)
    // concurrent writers to disjoint paths keep their keys
    val steps = Failpoints.steps(Par.all(() => { set("a"); set("a") }, () => set("b")))
    assert(steps.groupBy(_.path).map { case (p, s) => p.stripPrefix(root) -> s.map(_.nth) } ==
      Map("/_graft_a" -> Seq(1, 2), "/_graft_b" -> Seq(1)))
    val never = intercept[IllegalStateException] {
      Failpoints.crashAfter(s"$root/_graft_a", nth = 2)(set("a"))
    }
    assert(never.getMessage.contains("never happened"), never.getMessage)
    val swallowed = intercept[IllegalStateException] {
      Failpoints.crashAfter(s"$root/_graft_a")(try set("a") catch { case _: RuntimeException => () })
    }
    assert(swallowed.getMessage.contains("swallowed"), swallowed.getMessage)
  }
}
