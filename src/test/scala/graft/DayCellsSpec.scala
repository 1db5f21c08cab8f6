package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Bpe, DataCard, EmbedPost, LangModel, Sketches, StoreSidecar}
import graft.sources.{Failpoints, ManifestStore}

/** Crash matrix over the six day-cell forgets (count-min, histogram,
  * moments, vocab, LM, data card). Each forget is crashed after every
  * durable step of a crash-free run on a 2-day store; in every window
  * the store is already marked `has_corrections`, and the replayed
  * forget reads back exactly what the crash-free run read.
  */
class DayCellsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    graft.Scratch.path(s"dcx_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")

  private val docs: DataFrame = (1 to 60).map { i =>
    val text = s"w${i % 7} w${i % 3} w${i % 11} w${i % 5}"
    (i.toLong, (i % 2).toLong, s"k${i % 13}", (i % 9) * 10L, text,
      s"s${i % 3}", if (i % 4 == 0) "de" else "en", text.length.toLong,
      Seq(0.1 * (i % 5), 0.2 * (i % 3), -0.05 * (i % 7), 0.01 * i))
  }.toDF("id", "d", "k", "v", "text", "source", "lang", "n_chars", "embedding")

  private val doomed = docs.filter(col("id") % 5 === 0)

  /** (name, append one day, forget under a tag, net read) */
  private case class Family(
      name: String,
      append: (DataFrame, String, String) => Unit,
      forget: (DataFrame, String, String) => Unit,
      read: String => Seq[Seq[Any]])

  private def netSums(path: String, keys: Seq[String], sums: Seq[String]) =
    sortedRows(ManifestStore.read(spark, path).groupBy(keys.map(col): _*)
      .agg(sum(col(sums.head)), sums.tail.map(c => sum(col(c))): _*))

  private val families = Seq(
    Family("count-min",
      (df, day, t) => Sketches.countMinAppendDay(spark, df, "k", day, t, depth = 4, width = 64),
      (df, tag, t) => Sketches.countMinForget(spark, df, "k", tag, t, depth = 4, width = 64),
      t => sortedRows(Sketches.countMinCellsFromStore(spark, t))),
    Family("histogram",
      (df, day, t) => Sketches.histAppendDay(spark, df, "v", 16L, day, t),
      (df, tag, t) => Sketches.histForget(spark, df, "v", 16L, tag, t),
      t => sortedRows(Sketches.histCellsFromStore(spark, t))),
    Family("moments",
      (df, day, t) => EmbedPost.momentsAppendDay(spark, df, "embedding", 4, day, t),
      (df, tag, t) => EmbedPost.momentsForget(spark, df, "embedding", 4, tag, t),
      t => netSums(s"$t/m1", Seq("pos"), Seq("sv", "n")) ++
        netSums(s"$t/m2", Seq("i", "j"), Seq("svv"))),
    Family("vocab",
      (df, day, t) => Bpe.vocabAppendDay(spark, df, "id", "text", day, t),
      (df, tag, t) => Bpe.vocabForget(spark, df, "id", "text", tag, t),
      t => sortedRows(Bpe.vocabFromStore(spark, t))),
    Family("lm",
      (df, day, t) => LangModel.lmAppendDay(spark, df, "id", "text", day, t),
      (df, tag, t) => LangModel.lmForget(spark, df, "id", "text", tag, t),
      t => sortedRows(LangModel.perplexityFromStore(spark, t, docs, "id", "text"))),
    Family("data card",
      (df, day, t) => DataCard.appendDay(spark, df, day, t),
      (df, tag, t) => DataCard.forget(spark, df, tag, t),
      t => sortedRows(DataCard.cardFromStore(spark, t))))

  for (f <- families)
    test(s"${f.name}: a replayed forget converges from every crash window, marker first") {
      val (steps, _) = crashEveryStep(
        fixture = () => {
          val root = fresh(f.name.replace(' ', '_'))
          (0 until 2).foreach(d => f.append(docs.filter(col("d") === d.toLong), s"d$d", root))
          root
        },
        op = root => f.forget(doomed, "f1", root),
        result = f.read) { (root, st, _) =>
        assert(StoreSidecar.hasMarker(spark, root, "has_corrections"),
          s"${f.name}: the crash after $st left the store unmarked")
      }
      // the marker lands before any negative cell, then one commit per table
      assert(steps.head == Failpoints.Step("/_graft_has_corrections", 1), steps)
      assert(steps.tail.nonEmpty && steps.tail.forall(_.nth == 1), steps)
    }
}
