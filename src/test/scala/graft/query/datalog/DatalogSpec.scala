package graft.query.datalog

import graft.SparkSpec
import Ast._

/** Datalog-compiler semantics, mirroring the reference's query shapes:
  * same-entity attribute joins (alert.clj:11-15), string predicates
  * (auth.clj:91-96), recursive rules (app_db.clj:115-126), aggregates and
  * order/limit ([lib] crux 1.16 surface). */
class DatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    // id, name, dept, salary, manager
    ("e1", "ada", "eng", 120.0, null),
    ("e2", "bob", "eng", 90.0, "e1"),
    ("e3", "cid", "ops", 80.0, "e1"),
    ("e4", "dee", "eng", 100.0, "e2"),
    ("e5", "eva", "ops", 70.0, "e3")
  ).toDF("id", "name", "dept", "salary", "manager")

  private val compiler = new DatalogCompiler()

  test("same-entity attribute join + constant filter (alert.clj shape)") {
    val q = Query(
      find = Seq(FindVar(V("n")), FindVar(V("s"))),
      where = Seq(
        Pattern(V("e"), "dept", C("eng")),
        Pattern(V("e"), "name", V("n")),
        Pattern(V("e"), "salary", V("s"))))
    val got = compiler.run(docs, q).as[(String, Double)].collect().toSet
    assert(got == Set(("ada", 120.0), ("bob", 90.0), ("dee", 100.0)))
  }

  test("cross-entity unification join: employee → manager name") {
    val q = Query(
      find = Seq(FindVar(V("n")), FindVar(V("mn"))),
      where = Seq(
        Pattern(V("e"), "name", V("n")),
        Pattern(V("e"), "manager", V("m")),
        Pattern(V("m"), "name", V("mn"))))
    val got = compiler.run(docs, q).as[(String, String)].collect().toSet
    assert(got == Set(("bob", "ada"), ("cid", "ada"), ("dee", "bob"), ("eva", "cid")))
  }

  test("range predicate and string predicate clauses") {
    val q = Query(
      find = Seq(FindVar(V("n"))),
      where = Seq(
        Pattern(V("e"), "name", V("n")),
        Pattern(V("e"), "salary", V("s")),
        Pred(">=", Seq(V("s"), C(90.0))),
        Pred("clojure.string/starts-with?", Seq(V("n"), C("b")))))
    assert(compiler.run(docs, q).as[String].collect().toSeq == Seq("bob"))
  }

  test("bind clause computes new variables (Q17)") {
    val q = Query(
      find = Seq(FindVar(V("u"))),
      where = Seq(
        Pattern(V("e"), "dept", C("ops")),
        Pattern(V("e"), "name", V("n")),
        Bind("upper", Seq(V("n")), V("u"))))
    assert(compiler.run(docs, q).as[String].collect().toSet == Set("CID", "EVA"))
  }

  test("not (anti-join) and or (union) clauses") {
    val notQ = Query(
      find = Seq(FindVar(V("n"))),
      where = Seq(
        Pattern(V("e"), "name", V("n")),
        Not(Seq(Pattern(V("e"), "dept", C("eng"))))))
    assert(compiler.run(docs, notQ).as[String].collect().toSet == Set("cid", "eva"))

    val orQ = Query(
      find = Seq(FindVar(V("n"))),
      where = Seq(
        Pattern(V("e"), "name", V("n")),
        Or(Seq(
          Seq(Pattern(V("e"), "salary", V("s")), Pred(">", Seq(V("s"), C(110.0)))),
          Seq(Pattern(V("e"), "dept", C("ops")))))))
    assert(compiler.run(docs, orQ).as[String].collect().toSet == Set("ada", "cid", "eva"))
  }

  test("entity lookup with constant id (Q1)") {
    val q = Query(
      find = Seq(FindVar(V("n"))),
      where = Seq(Pattern(C("e4"), "name", V("n"))))
    assert(compiler.run(docs, q).as[String].collect().toSeq == Seq("dee"))
  }

  test("aggregates group by non-agg find vars (crux Q15 semantics)") {
    val q = Query(
      find = Seq(FindVar(V("d")), FindAgg("sum", V("s"), Some("total")),
        FindAgg("count", V("e"), Some("n"))),
      where = Seq(
        Pattern(V("e"), "dept", V("d")),
        Pattern(V("e"), "salary", V("s"))))
    val got = compiler.run(docs, q).as[(String, Double, Long)].collect().toSet
    assert(got == Set(("eng", 310.0, 3L), ("ops", 150.0, 2L)))
  }

  test("args parameter binding (Q7) + order-by/limit (Q16)") {
    val q = Query(
      find = Seq(FindVar(V("n")), FindVar(V("s"))),
      where = Seq(
        Pattern(V("e"), "dept", V("d")),
        Pattern(V("e"), "name", V("n")),
        Pattern(V("e"), "salary", V("s"))),
      args = Seq(Map("d" -> "eng")),
      orderBy = Seq(("s", false)),
      limit = Some(2))
    val got = compiler.run(docs, q).as[(String, Double)].collect().toSeq
    assert(got == Seq(("ada", 120.0), ("dee", 100.0)))
  }

  test(":args with several rows is a relation — set-union, dedup BEFORE aggregation") {
    // two parameter rows = OR over parameter tuples (crux args-relation
    // semantics; a single map is just the one-row case)
    val q = Query(
      find = Seq(FindVar(V("n"))),
      where = Seq(
        Pattern(V("e"), "dept", V("d")),
        Pattern(V("e"), "name", V("n"))),
      args = Seq(Map("d" -> "eng"), Map("d" -> "ops")))
    val got = compiler.run(docs, q).as[String].collect().toSet
    assert(got == Set("ada", "bob", "dee", "cid", "eva"))
    // aggregation happens over the UNIONED, deduped binding set — an
    // entity reachable under both parameter rows must count once, so
    // union-of-per-row-aggregates (two rows of counts) would be wrong
    val agg = Query(
      find = Seq(FindAgg("count", V("e"))),
      where = Seq(Pattern(V("e"), "salary", V("s")), Pred(">=", Seq(V("s"), V("lo")))),
      args = Seq(Map("lo" -> 0.0), Map("lo" -> 100.0))) // every e matches row 1
    val n = compiler.run(docs, agg).collect().map(_.getLong(0)).toSeq
    assert(n == Seq(5L), s"args rows must dedup before count: $n")
    // an arg var in :find is a column of the args relation — returned as
    // the constant of whichever row(s) produced the tuple
    val withArg = Query(
      find = Seq(FindVar(V("d")), FindVar(V("n"))),
      where = Seq(
        Pattern(V("e"), "dept", V("d")),
        Pattern(V("e"), "name", V("n"))),
      args = Seq(Map("d" -> "eng"), Map("d" -> "hr")))
    val pairs = compiler.run(docs, withArg).as[(String, String)].collect().toSet
    assert(pairs == Set(("eng", "ada"), ("eng", "bob"), ("eng", "dee")),
      s"hr row matches nothing, eng row carries its constant: $pairs")
  }

  test("non-recursive rule with multiple bodies unions (Q8)") {
    val rule = Rule("senior", Seq(V("p")), Seq(
      Seq(Pattern(V("p"), "salary", V("s")), Pred(">=", Seq(V("s"), C(100.0)))),
      Seq(Pattern(V("p"), "dept", C("ops")), Pattern(V("p"), "salary", V("s")),
        Pred(">=", Seq(V("s"), C(80.0))))))
    val q = Query(
      find = Seq(FindVar(V("n"))),
      where = Seq(RuleApp("senior", Seq(V("x"))), Pattern(V("x"), "name", V("n"))),
      rules = Seq(rule))
    assert(compiler.run(docs, q).as[String].collect().toSet == Set("ada", "dee", "cid"))
  }

  test("recursive rule: transitive reports-to (Q9, app_db.clj depends rule)") {
    val rule = Rule("reports", Seq(V("a"), V("b")), Seq(
      Seq(Pattern(V("a"), "manager", V("b"))),
      Seq(Pattern(V("a"), "manager", V("m")), RuleApp("reports", Seq(V("m"), V("b"))))))
    val q = Query(
      find = Seq(FindVar(V("a"))),
      where = Seq(RuleApp("reports", Seq(V("a"), C("e1")))),
      rules = Seq(rule))
    // everyone below ada transitively: e2, e3, e4, e5
    assert(compiler.run(docs, q).as[String].collect().toSet ==
      Set("e2", "e3", "e4", "e5"))
  }

  test("NONLINEAR recursion: path ∘ path derives delta⋈acc combinations too") {
    // 5-node chain: distance-3 pairs only arise from (distance-2 Δ) ⋈
    // (distance-1 tuple already in the accumulator) — delta⋈delta alone
    // would silently drop them
    val chain = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")
    ).toDF("id", "next")
    val rule = Rule("path", Seq(V("x"), V("y")), Seq(
      Seq(Pattern(V("x"), "next", V("y"))),
      Seq(RuleApp("path", Seq(V("x"), V("m"))), RuleApp("path", Seq(V("m"), V("y"))))))
    val q = Query(
      find = Seq(FindVar(V("x")), FindVar(V("y"))),
      where = Seq(RuleApp("path", Seq(V("x"), V("y")))),
      rules = Seq(rule))
    val got = compiler.run(chain, q).as[(String, String)].collect().toSet
    val want = for {
      (s, i) <- Seq("a", "b", "c", "d", "e").zipWithIndex
      t <- Seq("a", "b", "c", "d", "e").drop(i + 1)
    } yield (s, t)
    assert(got == want.toSet, s"missing: ${want.toSet -- got}")
  }

  test("mod is floor-mod (Clojure), rem/quot truncate — negative operand vectors") {
    // canonical Clojure vectors: (mod -3 7)=4, (mod 3 -7)=-4, (rem -3 7)=-3,
    // (quot -17 5)=-3 — a %-for-mod translation fails all the mod cases
    val nums = Seq(("a", -3L), ("b", 3L), ("c", -17L), ("d", 17L)).toDF("id", "x")
    def run(edn: String): Map[String, Long] =
      EdnDatalog.run(nums, edn).fold(e => fail(e), _.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(run("{:find [?i ?m] :where [[?e :id ?i] [?e :x ?x] [(mod ?x 7) ?m]]}")
      == Map("a" -> 4L, "b" -> 3L, "c" -> 4L, "d" -> 3L))
    assert(run("{:find [?i ?m] :where [[?e :id ?i] [?e :x ?x] [(mod ?x -7) ?m]]}")
      == Map("a" -> -3L, "b" -> -4L, "c" -> -3L, "d" -> -4L))
    assert(run("{:find [?i ?m] :where [[?e :id ?i] [?e :x ?x] [(rem ?x 7) ?m]]}")
      == Map("a" -> -3L, "b" -> 3L, "c" -> -3L, "d" -> 3L))
    assert(run("{:find [?i ?m] :where [[?e :id ?i] [?e :x ?x] [(quot ?x 5) ?m]]}")
      == Map("a" -> 0L, "b" -> 0L, "c" -> -3L, "d" -> 3L))
  }

  test("quot on fractional operands truncates toward zero, stays fractional (ADVICE r10)") {
    // Clojure: (quot 17.5 5) = 3.0, (quot -17.5 5) = -3.0 — integral
    // IntegralDivide would FAIL ANALYSIS on a double column; the compiler
    // must pick the fractional truncating form from the bound column's type
    val nums = Seq(("a", 17.5), ("b", -17.5), ("c", 4.0), ("d", 0.3))
      .toDF("id", "x")
    val got = EdnDatalog.run(nums,
        "{:find [?i ?q] :where [[?e :id ?i] [?e :x ?x] [(quot ?x 5) ?q]]}")
      .fold(e => fail(e), _.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
    assert(got == Map("a" -> 3.0, "b" -> -3.0, "c" -> 0.0, "d" -> 0.0), s"$got")
    // mixed: integral column divided by a fractional constant
    val ints = Seq(("a", 17L)).toDF("id", "x")
    val got2 = EdnDatalog.run(ints,
        "{:find [?i ?q] :where [[?e :id ?i] [?e :x ?x] [(quot ?x 2.5) ?q]]}")
      .fold(e => fail(e), _.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
    assert(got2 == Map("a" -> 6.0), s"$got2")
    // DECIMAL columns stay exact (review r11): routed through div, never
    // the double path — 2^53+1 would round in a double
    val big = BigDecimal("9007199254740993") // 2^53 + 1
    val decs = Seq(("a", big)).toDF("id", "x")
    val got3 = EdnDatalog.run(decs,
        "{:find [?i ?q] :where [[?e :id ?i] [?e :x ?x] [(quot ?x 1) ?q]]}")
      .fold(e => fail(e), _.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(got3 == Map("a" -> 9007199254740993L), s"decimal quot must be exact: $got3")
  }

  test("mod/rem/quot arity errors are descriptive compile errors (ADVICE r10)") {
    val nums = Seq(("a", 3L)).toDF("id", "x")
    for (fn <- Seq("mod", "rem", "quot")) {
      val r = EdnDatalog.run(nums,
        s"{:find [?i ?m] :where [[?e :id ?i] [?e :x ?x] [($fn ?x) ?m]]}")
      assert(r.isLeft, s"1-arg ($fn ?x) must be a compile error")
      assert(r.swap.exists(_.contains("2 arguments")),
        s"error must name the arity contract: $r")
    }
  }

  test("mutual recursion: odd/even manager-chain parity (combined SCC fixpoint)") {
    // odd(a,b): a reaches b through an ODD number of manager hops;
    // even(a,b): through an EVEN (≥2) number — each defined via the other.
    // Chains: e4→e2→e1, e5→e3→e1 (depth 2), so odd = the direct edges and
    // even = the two length-2 pairs.
    val odd = Rule("odd", Seq(V("a"), V("b")), Seq(
      Seq(Pattern(V("a"), "manager", V("b"))),
      Seq(Pattern(V("a"), "manager", V("x")), RuleApp("even", Seq(V("x"), V("b"))))))
    val even = Rule("even", Seq(V("a"), V("b")), Seq(
      Seq(Pattern(V("a"), "manager", V("x")), RuleApp("odd", Seq(V("x"), V("b"))))))
    def run(head: String): Set[(String, String)] =
      compiler.run(docs, Query(
        find = Seq(FindVar(V("a")), FindVar(V("b"))),
        where = Seq(RuleApp(head, Seq(V("a"), V("b")))),
        rules = Seq(odd, even))).as[(String, String)].collect().toSet
    assert(run("odd") == Set(("e2", "e1"), ("e3", "e1"), ("e4", "e2"), ("e5", "e3")))
    assert(run("even") == Set(("e4", "e1"), ("e5", "e1")))
  }

  test("mutual recursion: a member with NO base body materializes via its peer") {
    // up = manager ∪ hop (full closure); hop = manager ∘ up (paths ≥ 2).
    // hop has no non-recursive body — its relation must appear the first
    // round up derives into it, not fail for lack of a seed.
    val up = Rule("up", Seq(V("a"), V("b")), Seq(
      Seq(Pattern(V("a"), "manager", V("b"))),
      Seq(RuleApp("hop", Seq(V("a"), V("b"))))))
    val hop = Rule("hop", Seq(V("a"), V("b")), Seq(
      Seq(Pattern(V("a"), "manager", V("x")), RuleApp("up", Seq(V("x"), V("b"))))))
    def run(head: String): Set[(String, String)] =
      compiler.run(docs, Query(
        find = Seq(FindVar(V("a")), FindVar(V("b"))),
        where = Seq(RuleApp(head, Seq(V("a"), V("b")))),
        rules = Seq(up, hop))).as[(String, String)].collect().toSet
    val closure = Set(("e2", "e1"), ("e3", "e1"), ("e4", "e2"), ("e5", "e3"),
      ("e4", "e1"), ("e5", "e1"))
    assert(run("up") == closure)
    assert(run("hop") == Set(("e4", "e1"), ("e5", "e1")))
  }

  test("clause ordering: constant-bound groups lead, then connected ascending-size (VERDICT r11)") {
    // written worst-first: two full-relation groups before the
    // constant-filtered one — the compiler must NOT keep this order, since
    // Catalyst won't reorder inner joins without CBO stats
    val ps = Seq(
      Pattern(V("m"), "name", V("mn")),     // 5 rows
      Pattern(V("e"), "name", V("n")),      // 5 rows ∧ manager: est 4
      Pattern(V("e"), "manager", V("m")),
      Pattern(V("b"), "dept", C("eng")),    // constant filter: est 0.4
      Pattern(V("b"), "manager", V("e")))
    val groups = ps.groupBy(_.e).toSeq.sortBy(_._1.toString)
    val ordered = compiler.orderGroups(docs, groups).map(_._1)
    assert(ordered == Seq(V("b"), V("e"), V("m")),
      s"expected constant-bound first then connected ascending-size, got $ordered")
    // a constant ENTITY (id lookup ≈ 1 row) outranks even a constant value
    val ps2 = ps :+ Pattern(C("e1"), "salary", V("sal"))
    val ordered2 = compiler.orderGroups(docs,
      ps2.groupBy(_.e).toSeq.sortBy(_._1.toString)).map(_._1)
    assert(ordered2.head == C("e1"), s"id-lookup group must lead: $ordered2")
  }

  test("clause ordering is value-aware: a hot-value filter no longer ranks first (VERDICT r12)") {
    // 100 docs: dept='eng' on 90 of them (the HOT value), city='lyon' on
    // exactly 2. A uniform 1/10-per-filter guess scores both constant
    // filters identically (100·0.1 = 10) and ties break alphabetically —
    // the 90-row hot build would lead. The CMS value histogram must rank
    // the 2-row filter first instead.
    DatalogCompiler.clearStatsCache()
    val skewed = (1 to 100).map { i =>
      (s"d$i",
        if (i <= 90) "eng" else "ops",
        if (i % 50 == 0) "lyon" else s"city$i",
        s"d${math.max(1, i - 1)}")
    }.toDF("id", "dept", "city", "link")
    val ps = Seq(
      Pattern(V("b"), "dept", C("eng")),  // hot: ~90 rows
      Pattern(V("b"), "link", V("x")),
      Pattern(V("c"), "city", C("lyon")), // rare: 2 rows
      Pattern(V("c"), "link", V("x")))
    val groups = ps.groupBy(_.e).toSeq.sortBy(_._1.toString)
    val ordered = compiler.orderGroups(skewed, groups).map(_._1)
    assert(ordered == Seq(V("c"), V("b")),
      s"the rare-value group must lead the join, got $ordered")
    // stats OFF keeps the static heuristic (ties → alphabetical): the
    // plan differs but the RESULT may not — conjunction is commutative
    val noStats = new DatalogCompiler(useStats = false)
    val q = Query(
      find = Seq(FindVar(V("b")), FindVar(V("c"))),
      where = ps)
    val a1 = compiler.run(skewed, q).as[(String, String)].collect().toSet
    val a2 = noStats.run(skewed, q).as[(String, String)].collect().toSet
    assert(a1 == a2 && a1.nonEmpty, "ordering must never change results")
  }

  test("worst-ordered query compiles the selective group into the deepest-left join leaf") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    val q = Query(
      find = Seq(FindVar(V("n")), FindVar(V("mn"))),
      where = Seq(
        Pattern(V("m"), "name", V("mn")),
        Pattern(V("e"), "name", V("n")),
        Pattern(V("e"), "manager", V("m")),
        Pattern(V("b"), "dept", C("eng")),
        Pattern(V("b"), "manager", V("e"))))
    val df = compiler.run(docs, q)
    // the merge loop builds a LEFT-DEEP tree, so the first-compiled group
    // is the subtree with no Join descendants at the bottom of the left
    // spine — it must be the one carrying the pushed 'eng' constant
    def firstGroup(n: LogicalPlan): LogicalPlan =
      if (n.collect { case j: Join => j }.isEmpty) n
      else n match {
        case j: Join => firstGroup(j.left)
        case other => firstGroup(other.children.head)
      }
    val leaf = firstGroup(df.queryExecution.logical).toString
    assert(leaf.contains("eng"),
      s"the dept='eng' group must compile first (deepest-left):\n$leaf")
    // only e2 (bob) manages an eng-dept report AND has a manager himself
    assert(df.as[(String, String)].collect().toSet == Set(("bob", "ada")),
      "reordering must not change results")
  }

  test(":in empty collection on a predicate-only var returns an empty frame (ADVICE r11)") {
    // the var can never surface as a column, so the join path is out; an
    // empty binding set then means the empty ANSWER, not an error
    val got = EdnDatalog.runWith(docs,
      """{:find [?n] :in [[?y ...]] :where [[?e :salary ?s] [(> ?s ?y)] [?e :name ?n]]}""",
      Seq(Seq.empty[Double])).fold(e => fail(e), identity)
    assert(got.columns.toSeq == Seq("n"))
    assert(got.count() == 0)
    // non-empty collections on the same query still substitute per element
    val got2 = EdnDatalog.runWith(docs,
      """{:find [?n] :in [[?y ...]] :where [[?e :salary ?s] [(> ?s ?y)] [?e :name ?n]]}""",
      Seq(Seq(75.0, 95.0))).fold(e => fail(e), identity)
    assert(got2.as[String].collect().toSet == Set("ada", "bob", "cid", "dee"))
  }

  test("mutual recursion without any base body anywhere is a clear error") {
    val p = Rule("p", Seq(V("x")), Seq(Seq(RuleApp("q", Seq(V("x"))))))
    val qr = Rule("q", Seq(V("x")), Seq(Seq(RuleApp("p", Seq(V("x"))))))
    val query = Query(
      find = Seq(FindVar(V("x"))),
      where = Seq(RuleApp("p", Seq(V("x")))),
      rules = Seq(p, qr))
    val ex = intercept[IllegalArgumentException] { compiler.run(docs, query) }
    assert(ex.getMessage.contains("base case"), ex.getMessage)
  }
}
