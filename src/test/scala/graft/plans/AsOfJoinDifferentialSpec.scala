package graft.plans

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Differential for the as-of join: the custom Catalyst operator
  * ([[AsOfJoin.asofJoinNative]] → AsOfJoinExec) against a naive per-row
  * Scala model — on generated tables. The operator already hash-matches
  * a DuckDB oracle on ONE fixed query; this pins it to the model across
  * random shapes: empty sides, keys with no matches, tie timestamps across
  * sides, dense and sparse histories, plus forward direction, tolerance,
  * and left-outer. */
/** Fixture rows — top-level so Spark can derive product encoders. */
case class AsofL(k: Long, lts: Long, lv: Long)
case class AsofR(k: Long, rts: Long, rv: Long)

class AsOfJoinDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private def genTables(seed: Long): (Seq[AsofL], Seq[AsofR]) = {
    def sample[A](g: Gen[A], n: Int, s0: Long): Seq[A] =
      Iterator.from(0).map(i => g.apply(Gen.Parameters.default, Seed(s0 + i)))
        .collect { case Some(v) => v }.take(n).toSeq
    val genL = for {
      k <- Gen.chooseNum(1L, 5L); t <- Gen.chooseNum(0L, 100L)
      v <- Gen.chooseNum(0L, 999L)
    } yield AsofL(k, t, v)
    val genR = for {
      k <- Gen.chooseNum(1L, 6L); t <- Gen.chooseNum(0L, 100L)
      v <- Gen.chooseNum(0L, 999L)
    } yield AsofR(k, t, v)
    val nL = (seed % 30 + 1).toInt
    val nR = (seed % 23 + 1).toInt
    // unique (k, rts) on the right: tie policy AMONG equal right rows is
    // deliberately unspecified — dedupe keeps the comparison on DEFINED
    // semantics, mirroring the gate queries' max-dedup
    val right = sample(genR, nR, seed * 7 + 1)
      .groupBy(r => (r.k, r.rts)).map(_._2.maxBy(_.rv)).toSeq
    (sample(genL, nL, seed * 13 + 5), right)
  }

  private def model(ls: Seq[AsofL], rs: Seq[AsofR], direction: String,
                    tolerance: Option[Long], outer: Boolean): Set[(Long, Long, Long, Option[Long])] =
    ls.flatMap { l =>
      val cands = rs.filter(_.k == l.k).filter(r => direction match {
        case "backward" => r.rts <= l.lts
        case "forward" => r.rts >= l.lts
      }).filter(r => tolerance.forall(t => math.abs(l.lts - r.rts) <= t))
      val pick = direction match {
        case "backward" => cands.sortBy(r => (r.rts, r.rv)).lastOption
        case "forward" => cands.sortBy(r => (-r.rts, r.rv)).lastOption
      }
      pick match {
        case Some(r) => Some((l.k, l.lts, l.lv, Some(r.rv)))
        case None => if (outer) Some((l.k, l.lts, l.lv, None)) else None
      }
    }.toSet

  private def collectRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Option[Long])] =
    df.select("k", "lts", "lv", "asof_rv").collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toSet

  test("differential: 25 random tables vs the model (backward inner)") {
    for (seed <- 1L to 25L) {
      val (ls, rs) = genTables(seed)
      val lDf = ls.toDF("k", "lts", "lv")
      val rDf = rs.toDF("k", "rts", "rv")
      val want = model(ls, rs, "backward", None, outer = false)
      val native = collectRows(AsOfJoin.asofJoinNative(
        lDf, rDf, "k", "lts", "rts", Seq("rv")))
      assert(native == want, s"native diverged from model [seed $seed]\n" +
        s" native-only: ${(native -- want).take(3)}\n model-only: ${(want -- native).take(3)}")
    }
  }

  test("differential: forward direction, tolerance, and left-outer vs the model") {
    for (seed <- 30L to 41L) {
      val (ls, rs) = genTables(seed)
      val lDf = ls.toDF("k", "lts", "lv")
      val rDf = rs.toDF("k", "rts", "rv")
      val tol = if (seed % 3 == 0) None else Some(seed % 20)
      val dir = if (seed % 2 == 0) "forward" else "backward"
      val outer = seed % 4 < 2
      val got = collectRows(AsOfJoin.asofJoinNative(
        lDf, rDf, "k", "lts", "rts", Seq("rv"), direction = dir,
        tolerance = tol, joinType = if (outer) "left" else "inner"))
      val want = model(ls, rs, dir, tol, outer)
      assert(got == want, s"native diverged [seed $seed dir=$dir tol=$tol outer=$outer]\n" +
        s" got-only: ${(got -- want).take(3)}\n want-only: ${(want -- got).take(3)}")
    }
  }

  test("differential: empty sides and no-overlap keys") {
    val lDf = Seq(AsofL(1, 10, 1), AsofL(2, 20, 2)).toDF("k", "lts", "lv")
    val empty = Seq.empty[AsofR].toDF("k", "rts", "rv")
    assert(collectRows(AsOfJoin.asofJoinNative(
      lDf, empty, "k", "lts", "rts", Seq("rv"))).isEmpty)
    assert(collectRows(AsOfJoin.asofJoinNative(
      lDf, empty, "k", "lts", "rts", Seq("rv"), joinType = "left")) ==
      Set((1L, 10L, 1L, None), (2L, 20L, 2L, None)))
    val rOnly = Seq(AsofR(9, 5, 7)).toDF("k", "rts", "rv")
    assert(collectRows(AsOfJoin.asofJoinNative(
      lDf, rOnly, "k", "lts", "rts", Seq("rv"))).isEmpty,
      "no shared keys → inner as-of is empty")
  }
}
