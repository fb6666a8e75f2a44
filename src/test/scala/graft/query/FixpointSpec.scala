package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

class FixpointSpec extends SparkSpec {
  import spark.implicits._

  test("transitive closure of a chain") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val got = Fixpoint.transitiveClosure(edges)
      .as[(String, String)].collect().toSet
    assert(got == Set(
      ("a", "b"), ("b", "c"), ("c", "d"),
      ("a", "c"), ("b", "d"), ("a", "d")))
  }

  test("closure terminates on cycles") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val got = Fixpoint.transitiveClosure(edges)
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")))
  }

  test("non-convergence within maxIter throws instead of returning a truncated result") {
    val edges = (1 to 20).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Fixpoint.transitiveClosure(edges, maxIter = 3)
    }
    assert(ex.getMessage.contains("did not converge"))
    // and with enough iterations the same input converges fine
    assert(Fixpoint.transitiveClosure(edges, maxIter = 25).count() == 20 * 21 / 2)
  }

  test("null-key tuples converge instead of being re-derived until maxIter") {
    // (NULL, b) + (b, c) derives (NULL, c); under a plain (EqualTo)
    // left_anti that tuple never matches its own copy in acc and the loop
    // only ends at maxIter — the null-safe dedup must converge promptly
    val edges = Seq((null.asInstanceOf[String], "b"), ("b", "c")).toDF("src", "dst")
    val got = Fixpoint.transitiveClosure(edges, maxIter = 10)
      .as[(Option[String], String)].collect().toSet
    assert(got == Set((None, "b"), (Some("b"), "c"), (None, "c")))
  }

  test("reliable checkpoint dir flag switches off localCheckpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fixpoint-ckpt").toString
    spark.conf.set(Fixpoint.CheckpointDirKey, dir)
    try {
      val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
      val got = Fixpoint.transitiveClosure(edges).as[(String, String)].collect().toSet
      assert(got == Set(("a", "b"), ("b", "c"), ("a", "c")))
      // reliable checkpoints actually landed in the configured directory
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "expected checkpoint files under the reliable dir")
    } finally spark.conf.unset(Fixpoint.CheckpointDirKey)
  }

  /** A one-member [[Fixpoint.fixpointMulti]] — the shape a self-recursive
    * rule compiles to: `step(delta, acc)` derives from the member's frontier
    * and accumulator. */
  private def single(base: DataFrame, step: (DataFrame, DataFrame) => DataFrame,
                     keys: Seq[String], maxIter: Int = 50): DataFrame =
    Fixpoint.fixpointMulti(Map("r" -> base),
      (deltas, accs) => deltas.map { case (n, d) => n -> step(d, accs(n)) },
      Map("r" -> keys), maxIter)("r")

  test("generic fixpoint: even reachability levels only") {
    val edges = Seq((1, 2), (2, 3), (3, 4)).toDF("src", "dst")
    val closure = single(
      edges, (d, _) => d.as("d").join(edges.as("e"), col("d.dst") === col("e.src"))
        .select(col("d.src").as("src"), col("e.dst").as("dst")),
      Seq("src", "dst"))
    assert(closure.count() === 6)
  }

  test("nonlinear step: frontier joined against the accumulator, both ways") {
    // path(x, z) :- path(x, y), path(y, z) — delta⋈delta alone would lose
    // every pair that joins a new path with an old one: on a 6-node chain
    // the round-2 frontier {length 2} never meets {length 1} again
    val edges = (1 to 5).map(i => (i, i + 1)).toDF("src", "dst")
    def compose(a: DataFrame, b: DataFrame): DataFrame =
      a.as("a").join(b.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
    val got = single(edges, (d, acc) => compose(d, acc).unionByName(compose(acc, d)),
      Seq("src", "dst")).as[(Int, Int)].collect().toSet
    assert(got == (for (i <- 1 to 6; j <- i + 1 to 6) yield (i, j)).toSet)
    val frontierOnly = single(edges, (d, _) => compose(d, d), Seq("src", "dst")).count()
    assert(frontierOnly < got.size, "the accumulator join must add derivations")
  }

  test("a step whose column type drifts is cast, not byte-reinterpreted (review r11)") {
    // base is LongType; the step derives a DoubleType column. Delta legs
    // are raw InternalRows read back under the FIRST schema — without the
    // alignment cast, double 2.0's bits read as long 4611686018427387904
    val base = Seq(1L).toDF("src")
    val acc = single(base, (delta, _) => delta.select(lit(2.0).as("src")), Seq("src"))
    assert(acc.as[Long].collect().toSet == Set(1L, 2L),
      s"drifted-type leg must be cast to the accumulator type")
  }

  test("empty base is trivially converged — no round runs, maxIter=0 allowed") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(Fixpoint.transitiveClosure(empty).count() == 0)
    assert(single(empty, (d, _) => d, Seq("src", "dst"), maxIter = 0).count() == 0)
    // and empty keys fail fast with a usable message, not a reduce crash
    intercept[IllegalArgumentException] {
      single(empty, (d, _) => d, Seq.empty)
    }
  }
}
