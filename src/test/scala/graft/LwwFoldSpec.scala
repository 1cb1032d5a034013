package graft

import graft.model.Offset
import graft.table.GraftLake
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** Dedup/ordering property tests (SURVEY.md §5.2.2) of the engine's one
  * LWW fold, [[GraftLake.lwwWinners]]: random event permutations and batch
  * shapes → identical winners; max_by fold ≡ window row_number path. */
/** top-level so Catalyst encoders/codegen see a public static class */
final case class Ev(repo: String, path: String, payload: String,
    fileIdx: Long, pos: Long, rowIdx: Long)

class LwwFoldSpec extends SparkSuite {
  import spark.implicits._

  private def randomEvents(seed: Long, n: Int, keys: Int): Seq[Ev] = {
    val rnd = new Random(seed)
    // deliberately collide (fileIdx,pos) across keys; offsets unique per event
    val offs = rnd.shuffle((0 until n).toList)
    offs.zipWithIndex.map { case (o, i) =>
      val k = rnd.nextInt(keys)
      Ev(s"r${k / 7}", s"p${k % 7}", s"v$i-${rnd.nextInt(1000)}",
        o / 100 + 1, (o % 100) / 3, o % 3)
    }
  }

  private def df(evs: Seq[Ev]) = evs.toDF()
    .withColumn("_offset", struct($"fileIdx", $"pos", $"rowIdx"))
    .drop("fileIdx", "pos", "rowIdx")

  private def fold(events: org.apache.spark.sql.DataFrame) =
    GraftLake.lwwWinners(events.schema, events)

  private def oracleWinners(evs: Seq[Ev]): Map[(String, String), String] =
    evs.groupBy(e => (e.repo, e.path)).view.mapValues(
      _.maxBy(e => Offset(e.fileIdx, e.pos, e.rowIdx))(Offset.ordering).payload
    ).toMap

  test("dedup picks each key's max-offset event (vs in-memory oracle)") {
    for (seed <- 1L to 3L) {
      val evs = randomEvents(seed, 500, 40)
      val got = fold(df(evs))
        .select($"repo", $"path", $"payload").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      assert(got == oracleWinners(evs), s"seed=$seed")
    }
  }

  test("max_by fold ≡ window row_number formulation") {
    val base = df(randomEvents(7L, 800, 25))
    val folded = fold(base).orderBy("repo", "path").collect()
    // window cross-check (SURVEY.md §2.2): row_number over offset desc == 1
    val w = Window.partitionBy($"repo", $"path").orderBy($"_offset".desc)
    val windowed = base.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
      .orderBy("repo", "path").collect()
    assert(windowed.sameElements(folded), "window formulation diverged")
  }

  test("duplicate events (same offset, same image) collapse to one winner") {
    val evs = randomEvents(11L, 300, 20)
    val withDups = evs ++ evs.takeRight(120) ++ evs.take(50)
    val got = fold(df(Random.shuffle(withDups)))
    assert(got.count() == evs.map(e => (e.repo, e.path)).distinct.size)
    val winners = got.select($"repo", $"path", $"payload").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(winners == oracleWinners(evs))
  }

  test("partitioning-invariant: same winners at 1, 3, 16 input partitions") {
    val evs = randomEvents(13L, 600, 30)
    val expected = fold(df(evs)).orderBy("repo", "path").collect()
    for (np <- Seq(1, 3, 16)) {
      val got = fold(df(evs).repartition(np))
        .orderBy("repo", "path").collect()
      assert(got.sameElements(expected), s"numPartitions=$np")
    }
  }
}
