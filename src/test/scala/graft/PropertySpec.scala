package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.expr.ValueMapping
import graft.sources.FixedWidth
import graft.spec.Specs.{FwColumn, MappingSpec}

/** Property tests (SURVEY.md §5): round-trip laws and partition-count
  * invariance (the law that guards against the reference's chunk-tail
  * data-loss bug, §2.8).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling loop (no scalatestplus bridge offline): run
    * `body` over `n` seeded samples of `gen`.
    */
  def forAllSeeded[A](gen: Gen[A], n: Int = 10)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  val fwCols = Seq(
    FwColumn("k", position = 1, length = 8, align = "rjust", fillChar = "0", dataType = "long"),
    FwColumn("s", position = 9, length = 12),
    FwColumn("d", position = 21, length = 10, align = "rjust", dataType = "double"))

  // fixed-width-safe strings: no leading/trailing spaces (padding is
  // ambiguous with data by design — same as the reference), width-bounded
  val safeString: Gen[String] = Gen.chooseNum(1, 12).flatMap(n =>
    Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
  val rowGen: Gen[(Long, String, Double)] = for {
    k <- Gen.chooseNum(0L, 99999999L)
    s <- safeString
    d <- Gen.chooseNum(0, 9999999).map(_ / 100.0) // fits in 10 chars
  } yield (k, s, d)

  test("fixed-width render∘parse = identity for safe rows") {
    forAllSeeded(Gen.listOfN(20, rowGen)) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("k", "s", "d")
        val lines = FixedWidth.renderLines(df, fwCols)
          .withColumn("__line_no", monotonically_increasing_id())
        val back = FixedWidth.parseLines(lines, fwCols).drop("__line_no")
        assert(sortedRows(back) == sortedRows(df))
      }
    }
  }

  test("value mapping total: output is mapped, default, or passthrough") {
    val spec = MappingSpec(Map("a" -> "A", "b" -> "B"), default = Some("D"))
    forAllSeeded(Gen.listOfN(30, Gen.oneOf("a", "b", "c", "d", ""))) { vs =>
      if (vs.nonEmpty) {
        val out = vs.toDF("v").select(ValueMapping(col("v"), spec).as("o"))
          .as[String].collect().toSet
        assert(out.subsetOf(Set("A", "B", "D")))
      }
    }
  }

  test("aggregation results independent of partition count (chunking invariance)") {
    forAllSeeded(Gen.zip(Gen.listOfN(50, Gen.chooseNum(-1000, 1000)), Gen.chooseNum(1, 7)), 6) { case (xs, parts) =>
      if (xs.nonEmpty) {
        val a = xs.toDF("x").repartition(parts)
          .agg(sum(col("x")), count(lit(1)), min(col("x")), max(col("x"))).collect().head
        val b = xs.toDF("x").coalesce(1)
          .agg(sum(col("x")), count(lit(1)), min(col("x")), max(col("x"))).collect().head
        assert(a == b)
      }
    }
  }

  test("merge routing covers every incoming row once; Delete adds a co-located delete") {
    import graft.sinks.MergeRouter
    import graft.spec.Specs.ReprocessMode
    forAllSeeded(Gen.zip(Gen.listOfN(30, Gen.chooseNum(1, 50)), Gen.listOfN(10, Gen.chooseNum(1, 50))), 4) {
      case (incoming, stateKeys) =>
      if (incoming.nonEmpty) {
        val inc = incoming.distinct.toDF("pk")
        val st = stateKeys.distinct.map(k => (k, k.toLong * 10)).toDF("pk", "model_id")
        for (mode <- Seq(ReprocessMode.Insert, ReprocessMode.Update,
            ReprocessMode.NoUpdate, ReprocessMode.OnlyUpdate)) {
          val routed = MergeRouter.route(inc, st, "pk", mode)
          assert(routed.count() == inc.count(), s"mode $mode")
        }
        val matched = incoming.distinct.count(stateKeys.contains)
        val routed = MergeRouter.route(inc, st, "pk", ReprocessMode.Delete)
          .select(col("pk"), col(MergeRouter.ActionCol), spark_partition_id().as("part"))
          .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
        assert(routed.length == inc.count() + matched, "mode Delete")
        assert(routed.count(_._2 == "delete") == matched)
        for ((k, rows) <- routed.groupBy(_._1))
          assert(rows.map(_._3).distinct.length == 1, s"pk $k spans partitions: ${rows.toSeq}")
      }
    }
  }
}
