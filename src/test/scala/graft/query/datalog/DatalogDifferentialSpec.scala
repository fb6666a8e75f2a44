package graft.query.datalog

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Randomized differential testing of the Datalog pipeline (round-9
  * verdict item 6). The 111 driver gates are FIXED queries; the EDN parser
  * + compiler have the largest input space in the engine, so this spec
  * generates ~150 random small queries — patterns, constants, predicates,
  * not/or, aggregates, order-by/limit/offset — renders each to EDN text,
  * runs it through the REAL pipeline ([[EdnDatalog.run]] → compiler →
  * Spark), and compares against a naive in-memory evaluator written from
  * the Crux semantics alone (set semantics, unification, dedup-before-
  * aggregate). The two implementations share no code below the AST, so a
  * systematic agreement is strong evidence of both.
  *
  * Seeds are FIXED — a failure reproduces exactly; the failing query's EDN
  * is printed, ready to be pinned as a regression below
  * ([[regressionQueries]]).
  */
/** Fixture row — top-level so Spark can derive its product encoder. */
case class DiffEmp(id: String, name: String, dept: String,
                   salary: Double, age: Long, manager: String)

class DatalogDifferentialSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- fixture

  // whole-number salaries: every generated aggregate (sum/avg/min/max) is
  // then exact in Double, so the two evaluators can't drift by an ulp
  private val emps = Seq(
    DiffEmp("e1", "ada", "eng", 120.0, 45L, null),
    DiffEmp("e2", "bob", "eng", 90.0, 31L, "e1"),
    DiffEmp("e3", "cid", "ops", 80.0, 52L, "e1"),
    DiffEmp("e4", "dee", "eng", 100.0, 28L, "e2"),
    DiffEmp("e5", "eva", "ops", 70.0, 39L, "e3"),
    DiffEmp("e6", "fay", "hr", 85.0, 33L, "e1"),
    DiffEmp("e7", "gil", "eng", 90.0, 28L, "e2"),
    DiffEmp("e8", "hal", "ops", 95.0, 61L, "e3"),
    DiffEmp("e9", "ivy", "hr", 75.0, 24L, "e6"),
    DiffEmp("e10", "joe", "eng", 110.0, 47L, "e1"))
  private lazy val docs = emps.toDF()
  private val rows: Seq[Map[String, Any]] =
    emps.map(e => Map[String, Any]("id" -> e.id, "name" -> e.name,
      "dept" -> e.dept, "salary" -> e.salary, "age" -> e.age,
      "manager" -> e.manager))

  // ------------------------------------------------- generated query IR
  // (deliberately NOT Ast.Query: the differential path starts at EDN text)

  private case class GPat(e: String, attr: String, v: Either[Any, String])
  private sealed trait GCl
  private case class PatCl(p: GPat) extends GCl
  private case class PredCl(op: String, varName: String, const: Any) extends GCl
  private case class NotCl(p: GPat) extends GCl
  private case class OrCl(branches: Seq[GPat]) extends GCl
  private case class GQuery(findVars: Seq[String], aggs: Seq[(String, String)],
                            where: Seq[GCl],
                            order: Seq[(String, Boolean)], limit: Option[Int],
                            offset: Option[Int])

  // ------------------------------------------------------- EDN rendering

  private def ednConst(c: Any): String = c match {
    case s: String => "\"" + s + "\""
    case d: Double => if (d == d.floor) f"$d%.1f" else d.toString
    case l: Long => l.toString
    case other => other.toString
  }
  private def ednPat(p: GPat): String = {
    val v = p.v.fold(ednConst, name => s"?$name")
    s"[?${p.e} :${p.attr} $v]"
  }
  private def ednClause(c: GCl): String = c match {
    case PatCl(p) => ednPat(p)
    case PredCl(op, v, k) => s"[($op ?$v ${ednConst(k)})]"
    case NotCl(p) => s"(not ${ednPat(p)})"
    case OrCl(bs) => s"(or ${bs.map(ednPat).mkString(" ")})"
  }
  private def ednQuery(q: GQuery): String = {
    val find = (q.findVars.map("?" + _) ++
      q.aggs.map { case (fn, v) => s"($fn ?$v)" }).mkString(" ")
    val where = q.where.map(ednClause).mkString(" ")
    val order =
      if (q.order.isEmpty) ""
      else " :order-by [" + q.order.map { case (v, asc) =>
        s"[?$v ${if (asc) ":asc" else ":desc"}]" }.mkString(" ") + "]"
    val lim = q.limit.fold("")(n => s" :limit $n")
    val off = q.offset.fold("")(n => s" :offset $n")
    s"{:find [$find] :where [$where]$order$lim$off}"
  }

  // -------------------------------------------------- naive evaluator
  // Crux semantics from first principles: clause-by-clause unification over
  // the triples (a null attribute value is NO triple), implicit DISTINCT on
  // the projected find tuples, dedup of (group ++ agg) tuples BEFORE
  // aggregation, order/limit/offset last.

  private type Binding = Map[String, Any]

  private def sameVal(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y
    case (x: Long, y: Long) => x == y
    case (x: Double, y: Long) => x == y.toDouble
    case (x: Long, y: Double) => x.toDouble == y
    case _ => a == b
  }

  private def unify(b: Binding, varName: String, value: Any): Option[Binding] =
    b.get(varName) match {
      case Some(x) => if (sameVal(x, value)) Some(b) else None
      case None => Some(b + (varName -> value))
    }

  private def evalPat(p: GPat, bs: Seq[Binding]): Seq[Binding] =
    for {
      b <- bs
      row <- rows
      b1 <- unify(b, p.e, row("id"))
      value = row(p.attr)
      if value != null
      b2 <- p.v match {
        case Left(c) => if (sameVal(c, value)) Some(b1) else None
        case Right(v) => unify(b1, v, value)
      }
    } yield b2

  private def num(a: Any): Double = a match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case other => throw new IllegalArgumentException(s"not numeric: $other")
  }

  private def evalPred(c: PredCl, bs: Seq[Binding]): Seq[Binding] =
    bs.filter { b =>
      val v = b(c.varName)
      c.op match {
        case "<" => num(v) < num(c.const)
        case "<=" => num(v) <= num(c.const)
        case ">" => num(v) > num(c.const)
        case ">=" => num(v) >= num(c.const)
        case "=" => sameVal(v, c.const)
        case "!=" => !sameVal(v, c.const)
        case "starts-with?" => v.toString.startsWith(c.const.toString)
      }
    }

  private def evalWhere(cls: Seq[GCl]): Seq[Binding] =
    cls.foldLeft(Seq(Map.empty[String, Any]): Seq[Binding]) {
      case (bs, PatCl(p)) => evalPat(p, bs)
      case (bs, c: PredCl) => evalPred(c, bs)
      case (bs, NotCl(p)) => bs.filter(b => evalPat(p, Seq(b)).isEmpty)
      case (bs, OrCl(branches)) =>
        bs.flatMap(b => branches.flatMap(p => evalPat(p, Seq(b))).distinct)
    }

  private def evalQuery(q: GQuery): Seq[Seq[Any]] = {
    val bs = evalWhere(q.where)
    val projected: Seq[Seq[Any]] =
      if (q.aggs.isEmpty) bs.map(b => q.findVars.map(b)).distinct
      else {
        val involved = (q.findVars ++ q.aggs.map(_._2)).distinct
        val tuples = bs.map(b => involved.map(v => v -> b(v)).toMap).distinct
        val grouped =
          if (q.findVars.isEmpty) Seq(Seq.empty[Any] -> tuples)
          else tuples.groupBy(t => q.findVars.map(t)).toSeq
        grouped.map { case (key, ts) =>
          key ++ q.aggs.map { case (fn, v) =>
            val vals = ts.map(_(v))
            fn match {
              case "count" => vals.size.toLong
              case "count-distinct" => vals.distinct.size.toLong
              // a GLOBAL aggregate over zero bindings: one row with null
              // sum/avg/min/max (count above stays 0) — Spark's and SQL's
              // empty-aggregate semantics, which the compiler inherits
              case _ if vals.isEmpty => null
              case "sum" =>
                if (vals.forall(_.isInstanceOf[Long])) vals.map(num(_).toLong).sum
                else vals.map(num).sum
              case "min" =>
                if (vals.forall(_.isInstanceOf[Long])) vals.map(num(_).toLong).min
                else vals.map(num).min
              case "max" =>
                if (vals.forall(_.isInstanceOf[Long])) vals.map(num(_).toLong).max
                else vals.map(num).max
              case "avg" => vals.map(num).sum / vals.size
            }
          }
        }
      }
    val ordered =
      if (q.order.isEmpty) projected
      else {
        val idx = q.order.map { case (v, asc) =>
          val cols = q.findVars ++ q.aggs.map { case (fn, av) => s"$fn-$av" }
          (cols.indexOf(v), asc)
        }
        projected.sortWith { (x, y) =>
          idx.collectFirst {
            case (i, asc) if !sameVal(x(i), y(i)) =>
              val lt = (x(i), y(i)) match {
                case (a: String, b: String) => a < b
                case (a, b) => num(a) < num(b)
              }
              if (asc) lt else !lt
          }.getOrElse(false)
        }
      }
    val off = q.offset.getOrElse(0)
    val lim = q.limit.getOrElse(Int.MaxValue)
    if (q.order.isEmpty) ordered else ordered.slice(off, math.min(off.toLong + lim, Int.MaxValue).toInt)
  }

  // -------------------------------------------------------- generators

  private val depts = Seq("eng", "ops", "hr")
  private val salaryConsts = Seq(70.0, 80.0, 85.0, 90.0, 95.0, 100.0, 110.0, 120.0)
  private val ageConsts = Seq(24L, 28L, 31L, 39L, 45L, 52L, 61L)

  /** One random query over the fixture. Invariants the generator keeps so
    * both evaluators agree on DEFINED semantics (not on accidents):
    * predicate vars are bound by an earlier pattern; or-branches bind no
    * new vars; order-by (only on non-agg queries) covers EVERY find var, so
    * the distinct rows totally order and limit/offset are deterministic. */
  private val genQuery: Gen[GQuery] = for {
    // entity ?e bindings: name always; dept/salary/age optional or constant
    deptMode <- Gen.oneOf(0, 1, 2) // 0 none, 1 var, 2 const
    deptConst <- Gen.oneOf(depts)
    bindSalary <- Gen.oneOf(true, false)
    bindAge <- Gen.oneOf(true, false)
    // second entity ?m (e's manager) with its own name/salary
    withMgr <- Gen.frequency(2 -> false, 1 -> true)
    bindMgrSalary <- Gen.oneOf(true, false)
    basePats = Seq(GPat("e", "name", Right("n"))) ++
      (deptMode match {
        case 1 => Seq(GPat("e", "dept", Right("d")))
        case 2 => Seq(GPat("e", "dept", Left(deptConst)))
        case _ => Nil
      }) ++
      (if (bindSalary) Seq(GPat("e", "salary", Right("s"))) else Nil) ++
      (if (bindAge) Seq(GPat("e", "age", Right("a"))) else Nil) ++
      (if (withMgr) Seq(GPat("e", "manager", Right("m")),
        GPat("m", "name", Right("mn"))) ++
        (if (bindMgrSalary) Seq(GPat("m", "salary", Right("ms"))) else Nil)
       else Nil)
    numericVars = Seq("s" -> salaryConsts, "a" -> ageConsts.map(identity[Any]),
        "ms" -> salaryConsts)
      .collect { case (v, cs) if basePats.exists(_.v == Right(v)) => (v, cs) }
    nPreds <- Gen.chooseNum(0, 2)
    preds <- Gen.listOfN(nPreds,
      if (numericVars.isEmpty) Gen.const(None)
      else for {
        (v, cs) <- Gen.oneOf(numericVars)
        op <- Gen.oneOf("<", "<=", ">", ">=", "=", "!=")
        c <- Gen.oneOf(cs)
      } yield Some(PredCl(op, v, c)))
    strPred <- Gen.frequency(4 -> Gen.const(None),
      1 -> Gen.oneOf("a", "b", "c", "d", "e", "z")
        .map(p => Some(PredCl("starts-with?", "n", p))))
    notCl <- Gen.frequency(3 -> Gen.const(None),
      1 -> Gen.oneOf(depts).map(d => Some(NotCl(GPat("e", "dept", Left(d))))),
      1 -> Gen.oneOf(salaryConsts).map(s => Some(NotCl(GPat("e", "salary", Left(s))))))
    orCl <- Gen.frequency(3 -> Gen.const(None),
      1 -> (for {
        d1 <- Gen.oneOf(depts); d2 <- Gen.oneOf(depts)
      } yield Some(OrCl(Seq(GPat("e", "dept", Left(d1)), GPat("e", "dept", Left(d2)))))))
    where = basePats.map(PatCl) ++ preds.flatten ++ strPred ++ notCl ++ orCl
    boundVars = basePats.collect { case GPat(_, _, Right(v)) => v }
    boundNumeric = numericVars.map(_._1)
    isAgg <- Gen.frequency(3 -> false, 2 -> true)
    q <- if (isAgg && boundNumeric.nonEmpty) for {
        groupVars <- Gen.someOf(Seq("d", "mn").filter(boundVars.contains))
        nAggs <- Gen.chooseNum(1, 2)
        aggs <- Gen.listOfN(nAggs, for {
          fn <- Gen.oneOf("count", "count-distinct", "sum", "min", "max", "avg")
          v <- Gen.oneOf(boundNumeric)
        } yield (fn, v))
      } yield GQuery(groupVars.toSeq, aggs.distinct, where, Nil, None, None)
      else for {
        fv <- Gen.someOf(boundVars).suchThat(_.nonEmpty)
        withOrder <- Gen.frequency(3 -> false, 2 -> true)
        dirs <- Gen.listOfN(fv.size, Gen.oneOf(true, false))
        limit <- Gen.chooseNum(1, 6)
        offset <- Gen.chooseNum(0, 2)
      } yield
        if (withOrder)
          GQuery(fv.toSeq, Nil, where, fv.toSeq.zip(dirs), Some(limit), Some(offset))
        else GQuery(fv.toSeq, Nil, where, Nil, None, None)
  } yield q

  // case counts ride the shared quick budget (graft.TestBudget): same
  // seeds, same generators — quick mode runs the first full/5 cases of
  // the full run, so a quick-mode failure reproduces identically under
  // -Dgraft.test.quick=false
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.from(0).map(i => g.apply(Gen.Parameters.default, Seed(1234L + i)))
      .collect { case Some(v) => v }.take(graft.TestBudget.cases(n)).toSeq

  // ------------------------------------------------------ normalization

  private def normalize(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN)
    case l: Long => BigDecimal(l).setScale(9)
    case i: Int => BigDecimal(i).setScale(9)
    case other => other
  }

  private def runBoth(q: GQuery): (String, Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val edn = ednQuery(q)
    val got = EdnDatalog.run(docs, edn) match {
      case Left(err) => fail(s"pipeline rejected generated query $edn: $err")
      case Right(df) => df.collect().toSeq.map(_.toSeq)
    }
    (edn, got, evalQuery(q))
  }

  private def check(q: GQuery): Unit = {
    val (edn, got, want) = runBoth(q)
    val gotN = got.map(_.map(normalize))
    val wantN = want.map(_.map(normalize))
    if (q.order.nonEmpty)
      assert(gotN == wantN,
        s"ORDERED mismatch for $edn\n  spark: $gotN\n  naive: $wantN")
    else {
      val g = gotN.groupBy(identity).view.mapValues(_.size).toMap
      val w = wantN.groupBy(identity).view.mapValues(_.size).toMap
      assert(g == w,
        s"mismatch for $edn\n  spark-only: ${(g.keySet -- w.keySet).take(3)}" +
          s"\n  naive-only: ${(w.keySet -- g.keySet).take(3)}")
    }
  }

  // ------------------------------------------------------------- tests

  test("differential: 150 generated queries agree with the naive evaluator") {
    val qs = samples(genQuery, 150)
    // sanity: the generator exercises every feature class
    assert(qs.exists(_.aggs.nonEmpty), "generator must produce aggregates")
    assert(qs.exists(_.order.nonEmpty), "generator must produce order-by")
    assert(qs.exists(_.where.exists(_.isInstanceOf[NotCl])), "…not clauses")
    assert(qs.exists(_.where.exists(_.isInstanceOf[OrCl])), "…or clauses")
    assert(qs.exists(_.where.exists(c => c.isInstanceOf[PatCl] &&
      c.asInstanceOf[PatCl].p.e == "m")), "…manager joins")
    qs.foreach(check)
  }

  test("differential: clause order is semantically irrelevant (30 queries × shuffles)") {
    // the selectivity-aware compile-time reordering (VERDICT r11 #1) must
    // be RESULT-invariant: any permutation of a query's :where clauses is
    // the same query in crux. Run each generated query against 3 seeded
    // shuffles of its own clause list — the reorderer sees wildly
    // different written orders and must converge on identical answers.
    // (Predicate clauses may precede the patterns that bind their vars
    // after a shuffle — exactly the shape a naive left-to-right compiler
    // chokes on.)
    val rnd = new scala.util.Random(424242L)
    val qs = samples(genQuery, 30).filter(_.order.isEmpty) // bags compare
    // healthy-sample floor scales with the quick budget (the generator
    // yields ~2/3 unordered queries; half the requested budget is the
    // strength the full run always had)
    val floor = math.min(15, graft.TestBudget.cases(30) / 2)
    assert(qs.size >= floor, s"need a healthy unordered sample, got ${qs.size}")
    // statsOff exercises the STATIC ordering heuristic (1e9/|group| +
    // constant boosts) — it is not just a test knob: production falls back
    // to it whenever the stats aggregate throws, so it too must be
    // result-invariant under any written order
    val statsOff = new DatalogCompiler(useStats = false)
    def bag(q: GQuery, compiler: DatalogCompiler = new DatalogCompiler())
        : Map[Seq[Any], Int] = {
      val edn = ednQuery(q)
      EdnDatalog.run(docs, edn, compiler) match {
        case Left(err) => fail(s"rejected permuted query $edn: $err")
        case Right(df) => df.collect().toSeq.map(_.toSeq.map(normalize))
          .groupBy(identity).view.mapValues(_.size).toMap
      }
    }
    for ((q, i) <- qs.zipWithIndex) {
      val base = bag(q)
      for (k <- 1 to 3) {
        val shuffled = q.copy(where = rnd.shuffle(q.where))
        val got = bag(shuffled)
        assert(got == base,
          s"clause-order sensitivity on sample $i shuffle $k:" +
            s"\n  original: ${ednQuery(q)}\n  shuffled: ${ednQuery(shuffled)}" +
            s"\n  base-only: ${(base.keySet -- got.keySet).take(3)}" +
            s"\n  shuf-only: ${(got.keySet -- base.keySet).take(3)}")
        if (k == 1) {
          val noStats = bag(shuffled, statsOff)
          assert(noStats == base,
            s"stats-off ordering diverged on sample $i: ${ednQuery(shuffled)}")
        }
      }
    }
  }

  test("differential: :in substitution path ≡ broadcast-join path ≡ naive (40 binding sets)") {
    // the two :in execution paths share only the parser: substitution
    // reduces to the :args semantics validated above; forcing BOTH paths
    // on identical binding relations transfers that trust to the join
    // path, and an inline naive filter triangulates the pair
    val subst = new DatalogCompiler(inJoinThreshold = Int.MaxValue)
    val joined = new DatalogCompiler(inJoinThreshold = 0)
    val deptPool = Seq("eng", "ops", "hr", "ghost")
    val salPool = Seq(70.0, 75.0, 80.0, 85.0, 90.0, 95.0, 100.0, 110.0, 120.0, 999.0)
    val genPairs: Gen[Seq[(String, Double)]] = for {
      n <- Gen.choose(0, 40)
      ps <- Gen.listOfN(n, Gen.zip(Gen.oneOf(deptPool), Gen.oneOf(salPool)))
    } yield ps
    val plainQ =
      """{:find [?n ?d] :in [[[?d ?s]]]
          :where [[?e :dept ?d] [?e :salary ?s] [?e :name ?n]]}"""
    val aggQ =
      """{:find [?d (count ?e) (sum ?s)] :in [[[?d ?s]]]
          :where [[?e :dept ?d] [?e :salary ?s] [?e :name ?n]]}"""
    for ((pairs, i) <- samples(genPairs, 40).zipWithIndex) {
      val edn = if (i % 2 == 0) plainQ else aggQ
      val arg = Seq(pairs.map { case (d, s) => Seq(d, s) })
      def runWith(c: DatalogCompiler) =
        EdnDatalog.runWith(docs, edn, arg, c)
          .fold(e => fail(s"sample $i rejected: $e"), _.collect().toSeq
            .map(_.toSeq.map(normalize)).sortBy(_.mkString("|")))
      val a = runWith(subst)
      val b = runWith(joined)
      assert(a == b, s"path divergence on sample $i (${pairs.size} pairs, $edn)" +
        s"\n  subst:  ${a.take(5)}\n  joined: ${b.take(5)}")
      // naive: employees whose (dept, salary) is in the binding set
      val sel = emps.filter(e => pairs.contains((e.dept, e.salary)))
      val naive =
        if (i % 2 == 0) sel.map(e => Seq(e.name, e.dept).map(normalize)).distinct
        else sel.groupBy(_.dept).map { case (d, es) =>
          Seq(d, es.length.toLong, es.map(_.salary).sum).map(normalize)
        }.toSeq
      assert(a == naive.sortBy(_.mkString("|")),
        s"naive divergence on sample $i ($edn)\n  spark: ${a.take(5)}\n  naive: ${naive.take(5)}")
    }
  }

  test("differential: :in relation → recursive rule → pull, composed (40 seeded cases)") {
    // r11 landed :in binding forms, recursive/mutual rules, and EQL pull —
    // each differentially tested ALONE. This composes all three in one
    // query (a relation binding feeding a transitive-closure rule whose
    // surviving entities are pulled with a bounded or unbounded manager
    // chain) and forces BOTH :in execution paths, so any interaction bug
    // between the features (binding columns leaking into the fixpoint,
    // pull side-join breaking the post-rule distinct, unbounded depth
    // discovered on a substituted body) diverges from the naive side.
    val subst = new DatalogCompiler(inJoinThreshold = Int.MaxValue)
    val joined = new DatalogCompiler(inJoinThreshold = 0)
    val rnd = new scala.util.Random(20260815L)
    val deptPool = Seq("eng", "ops", "hr", "ghost")
    val salPool = Seq(60.0, 70.0, 75.0, 80.0, 85.0, 90.0, 95.0, 100.0, 110.0, 120.0)
    val agePool = Seq(45L, 31L, 52L, 28L, 39L, 33L, 61L, 24L, 47L, 99L)
    val byId = emps.map(e => e.id -> e).toMap
    def bossChain(e: DiffEmp): List[DiffEmp] = {
      var cur = Option(e.manager).filter(_ != null).map(byId)
      var acc = List.empty[DiffEmp]
      while (cur.isDefined) { acc :+= cur.get
        cur = Option(cur.get.manager).filter(_ != null).map(byId) }
      acc
    }
    for (i <- 0 until graft.TestBudget.cases(40)) {
      val nBind = rnd.nextInt(21) // 0..20 — crosses the 16-row path threshold
      val depth = rnd.nextInt(3) match { case 0 => "1"; case 1 => "2"; case _ => "..." }
      val maxD = if (depth == "...") 2 else depth.toInt // fixture's longest chain is 2
      val target = deptPool(rnd.nextInt(3)) // boss-dept constant (never ghost)
      // template A (predicate-bound in-var: ?ms only in a pred — the join
      // path must detect ineligibility and fall back); template B (both
      // in-vars pattern-bound — join path runs as a real broadcast join)
      val predTemplate = i % 2 == 0
      val (edn, pairs) =
        if (predTemplate) {
          val ps = Seq.fill(nBind)(Seq[Any](
            deptPool(rnd.nextInt(deptPool.size)), salPool(rnd.nextInt(salPool.size))))
          (s"""{:find [?e (pull ?e [:name {:manager $depth}])]
               :in [[[?d ?ms]]]
               :where [[?e :dept ?d]
                       [?e :salary ?s]
                       [(>= ?s ?ms)]
                       (boss ?e ?b)
                       [?b :dept "$target"]]
               :rules [[(boss ?x ?y) [?x :manager ?y]]
                       [(boss ?x ?y) [?x :manager ?m] (boss ?m ?y)]]}""", ps)
        } else {
          val ps = Seq.fill(nBind)(Seq[Any](
            deptPool(rnd.nextInt(deptPool.size)), agePool(rnd.nextInt(agePool.size))))
          (s"""{:find [?e (pull ?e [:name {:manager $depth}])]
               :in [[[?d ?a]]]
               :where [[?e :dept ?d]
                       [?e :age ?a]
                       (boss ?e ?b)
                       [?b :dept "$target"]]
               :rules [[(boss ?x ?y) [?x :manager ?y]]
                       [(boss ?x ?y) [?x :manager ?m] (boss ?m ?y)]]}""", ps)
        }
      // flatten (id, pull-struct) to id + the name chain padded to maxD+1
      def flat(r: org.apache.spark.sql.Row): Seq[Any] = {
        val out = scala.collection.mutable.ArrayBuffer[Any](r.getString(0))
        var s = r.getStruct(1)
        out += s.getString(s.fieldIndex("name"))
        var lvl = 0
        while (lvl < maxD) {
          val child =
            if (s != null && s.schema.fieldNames.contains("manager") &&
              !s.isNullAt(s.fieldIndex("manager"))) s.getStruct(s.fieldIndex("manager"))
            else null
          out += (if (child == null) null else child.getString(child.fieldIndex("name")))
          s = child
          lvl += 1
        }
        out.toSeq
      }
      def runPath(c: DatalogCompiler) =
        EdnDatalog.runWith(docs, edn, Seq(pairs), c)
          .fold(e => fail(s"sample $i rejected: $e"),
            _.collect().toSeq.map(flat).map(_.mkString("|")).sorted)
      val a = runPath(subst)
      val b = runPath(joined)
      assert(a == b, s"path divergence on sample $i (${pairs.size} pairs, $edn)" +
        s"\n  subst:  ${a.take(5)}\n  joined: ${b.take(5)}")
      val naive = emps.flatMap { e =>
        val okBind =
          if (predTemplate)
            pairs.exists(p => p.head == e.dept &&
              e.salary >= p(1).asInstanceOf[Double])
          else pairs.exists(p => p.head == e.dept && p(1) == e.age)
        val okBoss = bossChain(e).exists(_.dept == target)
        if (okBind && okBoss) {
          val names = e.name :: bossChain(e).map(_.name)
          Some((e.id +: (0 to maxD).map(k =>
            if (k < names.size) names(k) else null)).mkString("|"))
        } else None
      }.distinct.sorted
      assert(a == naive, s"naive divergence on sample $i ($edn)" +
        s"\n  spark: ${a.take(5)}\n  naive: ${naive.take(5)}")
    }
  }

  /** Counterexamples the differential run minimized, pinned as fixed
    * regressions. The first landing caught one real divergence: a GLOBAL
    * aggregate over zero bindings — the evaluators disagreed (NaN vs null)
    * until the naive side adopted the SQL empty-aggregate semantics the
    * compiler inherits from Spark (count 0, null sum/avg/min/max). */
  private val regressionQueries: Seq[GQuery] = Seq(
    GQuery(Nil, Seq(("avg", "s"), ("count", "s"), ("min", "s")),
      Seq(PatCl(GPat("e", "name", Right("n"))),
        PatCl(GPat("e", "salary", Right("s"))),
        PredCl(">", "s", 999.0)),
      Nil, None, None), // empty global aggregate: count 0 + null avg/min
    // smallest interesting shapes, kept as always-on regressions:
    GQuery(Seq("n"), Nil,
      Seq(PatCl(GPat("e", "name", Right("n"))),
        OrCl(Seq(GPat("e", "dept", Left("eng")), GPat("e", "dept", Left("eng"))))),
      Nil, None, None), // duplicate or-branches must not duplicate rows
    GQuery(Nil, Seq(("avg", "s"), ("count", "s")),
      Seq(PatCl(GPat("e", "name", Right("n"))),
        PatCl(GPat("e", "salary", Right("s")))),
      Nil, None, None), // global agg, no group vars: dedup on (n,s), not (s)
    GQuery(Seq("d"), Seq(("count-distinct", "s")),
      Seq(PatCl(GPat("e", "dept", Right("d"))),
        PatCl(GPat("e", "salary", Right("s")))),
      Nil, None, None)) // ties: eng has two 90.0 salaries

  test("differential regressions: pinned query shapes") {
    regressionQueries.foreach(check)
  }

  // ---------------------------------------- binds and rules (second sweep)
  // These clause classes don't fit the GQuery IR above, so each template
  // gets its own tiny renderer + naive evaluation — still EDN-text in,
  // independent formulation out.

  private def runEdn(edn: String): Seq[Seq[Any]] =
    EdnDatalog.run(docs, edn) match {
      case Left(err) => fail(s"pipeline rejected $edn: $err")
      case Right(df) => df.collect().toSeq.map(_.toSeq)
    }

  private def asBags(got: Seq[Seq[Any]], want: Seq[Seq[Any]], edn: String): Unit = {
    val g = got.map(_.map(normalize)).groupBy(identity).view.mapValues(_.size).toMap
    val w = want.map(_.map(normalize)).groupBy(identity).view.mapValues(_.size).toMap
    assert(g == w, s"mismatch for $edn\n  spark-only: ${(g.keySet -- w.keySet).take(3)}" +
      s"\n  naive-only: ${(w.keySet -- g.keySet).take(3)}")
  }

  test("differential: 40 generated bind-clause queries (arithmetic + string fns)") {
    val gen = for {
      // mod/rem included with NEGATIVE divisors: crux mod is Clojure
      // floor-mod (divisor's sign), rem is truncating — the sign cases are
      // exactly where a naive %-for-both translation diverges (ADVICE r9)
      op <- Gen.oneOf("+", "-", "*", "mod", "rem")
      k <- Gen.oneOf(5.0, 10.0, 2.0, 50.0, -7.0, -30.0)
      predOp <- Gen.oneOf(">=", "<", "!=")
      predK <- Gen.oneOf(100.0, 150.0, 200.0, 90.0)
      withPred <- Gen.oneOf(true, false)
      strBind <- Gen.oneOf(true, false)
    } yield (op, k, predOp, predK, withPred, strBind)
    for ((op, k, predOp, predK, withPred, strBind) <- samples(gen, 60)) {
      val pred = if (withPred) s" [($predOp ?s2 ${ednConst(predK)})]" else ""
      val (findExtra, bindExtra) =
        if (strBind) (" ?u", " [(upper ?n) ?u]") else ("", "")
      val edn = s"{:find [?n ?s2$findExtra] :where [[?e :name ?n] [?e :salary ?s]" +
        s" [($op ?s ${ednConst(k)}) ?s2]$bindExtra$pred]}"
      val want = emps.flatMap { e =>
        val s2 = op match {
          case "+" => e.salary + k
          case "-" => e.salary - k
          case "*" => e.salary * k
          case "mod" => // Clojure floor-mod, formulated Clojure's way (not
            // the engine's ((a%b)+b)%b): adjust the truncating remainder
            // when its sign disagrees with the divisor's
            val r = e.salary % k
            if (r != 0.0 && ((r < 0) != (k < 0))) r + k else r
          case "rem" => e.salary % k
        }
        val keep = !withPred || (predOp match {
          case ">=" => s2 >= predK
          case "<" => s2 < predK
          case "!=" => s2 != predK
        })
        if (keep)
          Some(if (strBind) Seq(e.name, s2, e.name.toUpperCase) else Seq(e.name, s2))
        else None
      }.distinct
      asBags(runEdn(edn), want, edn)
    }
  }

  test("differential: 30 generated non-recursive multi-body rules (union semantics)") {
    val gen = for {
      nBodies <- Gen.chooseNum(1, 2)
      ks <- Gen.listOfN(nBodies, Gen.oneOf(salaryConsts))
      dept <- Gen.option(Gen.oneOf(depts))
    } yield (ks, dept)
    for ((ks, dept) <- samples(gen, 30)) {
      // each body names its params differently on purpose (legal in crux;
      // the compiler α-renames) and keeps a private body var
      val ruleBodies = ks.zipWithIndex.map { case (k, i) =>
        s"[(wellpaid ?p$i) [?p$i :salary ?x$i] [(>= ?x$i ${ednConst(k)})]]"
      }.mkString(" ")
      val deptPat = dept.fold("")(d => s" [?e :dept ${ednConst(d)}]")
      val edn = s"{:find [?n] :where [[?e :name ?n]$deptPat (wellpaid ?e)]" +
        s" :rules [$ruleBodies]}"
      val want = emps.filter(e => ks.exists(e.salary >= _))
        .filter(e => dept.forall(_ == e.dept))
        .map(e => Seq(e.name)).distinct
      asBags(runEdn(edn), want, edn)
    }
  }

  test("differential: 30 generated or-join / not-join / :args queries") {
    // or-join/not-join restrict unification to DECLARED vars — branches and
    // negations bind private vars freely; :args substitutes constants
    // before compilation. All three templates evaluated naively by direct
    // row logic over the fixture.
    val byId = emps.map(e => e.id -> e).toMap
    def mgrDept(e: DiffEmp): Option[String] =
      Option(e.manager).flatMap(byId.get).map(_.dept)
    val gen = for {
      kind <- Gen.oneOf("not-join", "or-join", "args", "args-rel")
      c1 <- Gen.oneOf(depts)
      c2 <- Gen.oneOf(depts)
      minSal <- Gen.option(Gen.oneOf(salaryConsts))
    } yield (kind, c1, c2, minSal)
    for ((kind, c1, c2, minSal) <- samples(gen, 40)) {
      val salPat = minSal.fold("")(_ => " [?e :salary ?s]")
      val salPred = minSal.fold("")(k => s" [(>= ?s ${ednConst(k)})]")
      def salOk(e: DiffEmp) = minSal.forall(e.salary >= _)
      val (edn, want) = kind match {
        case "not-join" =>
          // exclude e whose MANAGER is in dept c1 (?mm is private to the not)
          (s"{:find [?n] :where [[?e :name ?n]$salPat$salPred " +
            s"(not-join [?e] [?e :manager ?mm] [?mm :dept ${ednConst(c1)}])]}",
            emps.filter(e => salOk(e) && !mgrDept(e).contains(c1))
              .map(e => Seq[Any](e.name)))
        case "or-join" =>
          // e in dept c1 OR managed by someone in dept c2 (?mm private)
          (s"{:find [?n] :where [[?e :name ?n]$salPat$salPred " +
            s"(or-join [?e] [?e :dept ${ednConst(c1)}] " +
            s"(and [?e :manager ?mm] [?mm :dept ${ednConst(c2)}]))]}",
            emps.filter(e => salOk(e) && (e.dept == c1 || mgrDept(e).contains(c2)))
              .map(e => Seq[Any](e.name)))
        case "args" =>
          // parameter binding: ?d arrives via :args, not the query text
          (s"{:find [?n] :where [[?e :name ?n] [?e :dept ?d]$salPat$salPred] " +
            s""":args [{?d ${ednConst(c1)}}]}""",
            emps.filter(e => salOk(e) && e.dept == c1).map(e => Seq[Any](e.name)))
        case _ =>
          // args RELATION: two parameter rows = set-union (c1 may equal
          // c2 — the overlap must not double rows)
          (s"{:find [?n] :where [[?e :name ?n] [?e :dept ?d]$salPat$salPred] " +
            s""":args [{?d ${ednConst(c1)}} {?d ${ednConst(c2)}}]}""",
            emps.filter(e => salOk(e) && (e.dept == c1 || e.dept == c2))
              .map(e => Seq[Any](e.name)))
      }
      asBags(runEdn(edn), want.distinct, edn)
    }
  }

  test("totality fuzz: mutated and garbage query text always Lefts, never throws") {
    // the management plane feeds operator-typed EDN straight into
    // EdnDatalog.run — an exception here would 500 the query door, so the
    // contract is total: every malformed input is a Left(reason) with a
    // non-empty reason. Mutations: truncations, bracket surgery, char
    // swaps, and raw ASCII noise over a valid seed query.
    val seeds = Seq(
      "{:find [?n (sum ?s)] :where [[?e :name ?n] [?e :salary ?s] " +
        "[(>= ?s 90.0)] (not [?e :dept \"eng\"])] :order-by [[?n :asc]] :limit 3}",
      // pull-shaped seed: options, wildcard, nested join, bounded recursion
      "{:find [?e (pull ?e [(:name {:as :who}) * {:manager 2} " +
        "{(:manager {:as :m}) [(:dept {:default \"x\"})]}])] " +
        ":where [[?e :salary ?s] [(> ?s 80.0)]]}")
    val mutGen = for {
      seed <- Gen.oneOf(seeds)
      kind <- Gen.chooseNum(0, 3)
      i <- Gen.chooseNum(0, seed.length - 1)
      j <- Gen.chooseNum(0, seed.length - 1)
      c <- Gen.asciiPrintableChar
      len <- Gen.chooseNum(0, 60)
      noise <- Gen.listOfN(len, Gen.asciiPrintableChar).map(_.mkString)
    } yield kind match {
      case 0 => seed.take(i) // truncation
      case 1 => seed.updated(i, c) // point mutation
      case 2 => // bracket surgery: drop one delimiter
        if (i < seed.length && "[]{}()".contains(seed(i)))
          seed.take(i) + seed.drop(i + 1)
        else seed.take(i) + seed.drop(math.min(i + 1, seed.length))
      case _ => noise // raw garbage
    }
    for (text <- samples(mutGen, 200)) {
      val out = try EdnDatalog.run(docs, text)
      catch { case e: Throwable => fail(s"threw ${e.getClass.getSimpleName} on: $text") }
      out match {
        case Left(reason) => assert(reason.trim.nonEmpty, s"empty reason for: $text")
        case Right(df) =>
          // a mutation can stay well-formed yet type-mismatched at runtime
          // (e.g. [(>= ?s 1s)] compares a double to the string "1s"): an
          // ANSI cast error at execution is legitimate SQL semantics (the
          // HTTP query door surfaces it as a typed 500) — but an NPE,
          // MatchError or stack overflow here would be a compiler bug
          try { df.collect(); () } catch {
            case _: org.apache.spark.SparkThrowable => ()
            case e: Throwable if e.getCause.isInstanceOf[org.apache.spark.SparkThrowable] => ()
            case e: Throwable => fail(s"pathological ${e.getClass.getSimpleName} on: $text")
          }
      }
    }
  }

  test("differential: 20 mutually recursive odd/even chain-parity queries") {
    // naive side: manager-path parity by plain iteration — odd/even pair
    // sets grown together until neither changes. No shared machinery with
    // the compiler's SCC fixpoint (Fixpoint.fixpointMulti).
    val edges = emps.collect { case e if e.manager != null => (e.id, e.manager) }
    def parity: (Set[(String, String)], Set[(String, String)]) = {
      var odd = edges.toSet
      var even = Set.empty[(String, String)]
      var grew = true
      while (grew) {
        val nextEven = even ++
          (for ((a, x) <- edges.toSet; (x2, b) <- odd if x2 == x) yield (a, b))
        val nextOdd = odd ++
          (for ((a, x) <- edges.toSet; (x2, b) <- even if x2 == x) yield (a, b))
        grew = nextEven.size > even.size || nextOdd.size > odd.size
        even = nextEven; odd = nextOdd
      }
      (odd, even)
    }
    val (oddSet, evenSet) = parity
    val names = emps.map(e => e.id -> e.name).toMap
    val byId = emps.map(e => e.id -> e).toMap
    val gen = for {
      head <- Gen.oneOf("opath", "epath")
      dept <- Gen.option(Gen.oneOf(depts))
      prefix <- Gen.option(Gen.oneOf("a", "b", "c", "d", "g"))
    } yield (head, dept, prefix)
    for ((head, dept, prefix) <- samples(gen, 20)) {
      val deptPat = dept.fold("")(d => s" [?e :dept ${ednConst(d)}]")
      val pfxPred = prefix.fold("")(p => s""" [(starts-with? ?bn "$p")]""")
      val edn = s"{:find [?n ?bn] :where [[?e :name ?n]$deptPat ($head ?e ?b) " +
        s"[?b :name ?bn]$pfxPred] " +
        ":rules [[(opath ?a ?b) [?a :manager ?b]] " +
        "[(opath ?a ?b) [?a :manager ?x] (epath ?x ?b)] " +
        "[(epath ?c ?d) [?c :manager ?y] (opath ?y ?d)]]}"
      val pairs = if (head == "opath") oddSet else evenSet
      val want = pairs.toSeq
        .filter { case (a, _) => dept.forall(_ == byId(a).dept) }
        .map { case (a, b) => Seq[Any](names(a), names(b)) }
        .filter(r => prefix.forall(p => r(1).toString.startsWith(p)))
        .distinct
      asBags(runEdn(edn), want, edn)
    }
  }

  test("differential: 20 recursive reachability rule queries (transitive manager)") {
    // naive side: transitive closure by iteration over the manager edges —
    // no shared machinery with the compiler's semi-naive fixpoint
    val edges = emps.collect { case e if e.manager != null => (e.id, e.manager) }
    def closure: Set[(String, String)] = {
      var acc = edges.toSet
      var grew = true
      while (grew) {
        val next = acc ++ (for ((a, b) <- acc; (b2, c) <- edges if b2 == b) yield (a, c))
        grew = next.size > acc.size; acc = next
      }
      acc
    }
    val names = emps.map(e => e.id -> e.name).toMap
    val gen = for {
      dept <- Gen.option(Gen.oneOf(depts))
      prefix <- Gen.option(Gen.oneOf("a", "b", "c", "d", "g"))
    } yield (dept, prefix)
    for ((dept, prefix) <- samples(gen, 20)) {
      val deptPat = dept.fold("")(d => s" [?e :dept ${ednConst(d)}]")
      val pfxPred = prefix.fold("")(p => s""" [(starts-with? ?bn "$p")]""")
      val edn = s"{:find [?n ?bn] :where [[?e :name ?n]$deptPat (boss ?e ?b) " +
        s"[?b :name ?bn]$pfxPred] " +
        ":rules [[(boss ?a ?b) [?a :manager ?b]] " +
        "[(boss ?a2 ?b2) [?a2 :manager ?x] (boss ?x ?b2)]]}"
      val byId = emps.map(e => e.id -> e).toMap
      val want = closure.toSeq
        .filter { case (a, _) => dept.forall(_ == byId(a).dept) }
        .map { case (a, b) => Seq[Any](names(a), names(b)) }
        .filter(r => prefix.forall(p => r(1).toString.startsWith(p)))
        .distinct
      asBags(runEdn(edn), want, edn)
    }
  }

  // --------------------------------------------------------- pull specs
  // Random EQL pull specs — attrs with :as/:default options, the *
  // wildcard, nested {:manager [sub…]} joins, bounded {:manager N}
  // recursion — against a naive evaluator that walks the fixture maps.
  // The semantics mirrored independently: wildcard = every column in
  // relation order, dedup by OUTPUT field name (first wins), unmatched
  // ref → null child, recursion re-applies the enclosing spec with the
  // depth decremented and keeps the raw ref id at an all-recursive leaf.

  private sealed trait GPull
  private case class GPAttr(a: String, as: Option[String],
                            dflt: Option[Any]) extends GPull
  private case object GPWild extends GPull
  private case class GPJoin(sub: Seq[GPull]) extends GPull   // via :manager
  private case class GPRecur(depth: Int) extends GPull       // via :manager

  private val pullColOrder = Seq("id", "name", "dept", "salary", "age", "manager")
  private lazy val docsById = rows.map(m => m("id").toString -> m).toMap

  private def ednPullEntry(e: GPull): String = e match {
    case GPAttr(a, None, None) => s":$a"
    case GPAttr(a, as, dflt) =>
      val opts = as.map(x => s":as :$x").toSeq ++
        dflt.map(v => s":default ${ednConst(v)}")
      s"(:$a {${opts.mkString(" ")}})"
    case GPWild => "*"
    case GPJoin(sub) => s"{:manager [${sub.map(ednPullEntry).mkString(" ")}]}"
    case GPRecur(d) => s"{:manager $d}"
  }

  private def pullFieldName(e: GPull): String = e match {
    case GPAttr(a, as, _) => as.getOrElse(a)
    case GPJoin(_) | GPRecur(_) => "manager"
    case GPWild => throw new IllegalStateException("expand first")
  }

  private def naivePull(id: String, spec: Seq[GPull],
                        byId: Map[String, Map[String, Any]] = docsById): Any =
    byId.get(id) match {
      case None => null
      case Some(doc) =>
        // EQL precedence (mirrors the compiler): explicit entries beat *
        // regardless of order — the wildcard never emits a key an explicit
        // entry claims
        val explicitKeys = spec.collect {
          case e if e != GPWild => pullFieldName(e)
        }.toSet
        val expanded = spec.flatMap {
          case GPWild =>
            pullColOrder.filterNot(explicitKeys).map(c => GPAttr(c, None, None))
          case e => Seq(e)
        }
        val entries = expanded.foldLeft(Vector.empty[GPull]) { (acc, e) =>
          if (acc.exists(pullFieldName(_) == pullFieldName(e))) acc else acc :+ e
        }
        def childOf(d: Int): Seq[GPull] = entries.flatMap {
          case GPRecur(_) => if (d <= 1) Seq.empty else Seq(GPRecur(d - 1))
          case x => Seq(x)
        }
        entries.toList.map {
          case GPAttr(a, as, dflt) =>
            val v = doc(a)
            (as.getOrElse(a), if (v == null) dflt.orNull else v)
          case GPJoin(sub) =>
            val ref = doc("manager")
            ("manager", if (ref == null) null else naivePull(ref.toString, sub, byId))
          case GPRecur(d) =>
            val ref = doc("manager")
            val sub = childOf(d)
            ("manager",
              if (sub.isEmpty) ref // all-recursive leaf: the raw ref id
              else if (ref == null) null
              else naivePull(ref.toString, sub, byId))
          case GPWild => throw new IllegalStateException("expand first")
        }
    }

  /** Struct Rows → the naive side's nested (fieldName, value) lists. */
  private def canonStruct(v: Any): Any = v match {
    case r: org.apache.spark.sql.Row =>
      r.schema.fields.toList.map(f =>
        f.name -> canonStruct(r.get(r.fieldIndex(f.name))))
    case x => x
  }

  test("differential: 40 generated pull specs (options, wildcard, joins, recursion)") {
    val genAttrEntry: Gen[GPull] = for {
      a <- Gen.oneOf("name", "dept", "salary", "age", "manager")
      as <- Gen.option(Gen.oneOf("x", "y", "alias1"))
      // :default stays type-matched to the column (manager: string) so the
      // coalesce is cast-free on the Spark side
      dflt <- if (a == "manager") Gen.option(Gen.const[Any]("none"))
              else Gen.const(None)
    } yield GPAttr(a, as, dflt)
    def genSpec(depth: Int): Gen[Seq[GPull]] = {
      val entry: Gen[GPull] =
        if (depth <= 0) Gen.frequency(6 -> genAttrEntry, 1 -> Gen.const(GPWild))
        else Gen.frequency(
          5 -> genAttrEntry,
          1 -> Gen.const(GPWild),
          2 -> Gen.lzy(genSpec(depth - 1).map(GPJoin(_))),
          1 -> Gen.chooseNum(1, 3).map(GPRecur(_)))
      Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, entry))
    }
    val genCase = for {
      spec <- genSpec(2)
      whereMode <- Gen.oneOf(0, 1, 2)
      dept <- Gen.oneOf(depts)
      sal <- Gen.oneOf(salaryConsts)
    } yield (spec, whereMode, dept, sal)
    val cases = samples(genCase, 40)
    // the generator must exercise every spec-entry class
    def allEntries(s: Seq[GPull]): Seq[GPull] = s.flatMap {
      case j @ GPJoin(sub) => j +: allEntries(sub)
      case e => Seq(e)
    }
    val everything = cases.flatMap(c => allEntries(c._1))
    assert(everything.exists(_.isInstanceOf[GPJoin]), "…joins")
    assert(everything.exists(_.isInstanceOf[GPRecur]), "…recursion")
    assert(everything.contains(GPWild), "…wildcard")
    assert(everything.exists { case GPAttr(_, as, d) => as.nonEmpty || d.nonEmpty
      case _ => false }, "…attribute options")
    for ((spec, whereMode, dept, sal) <- cases) {
      val where = whereMode match {
        case 0 => "[?e :name ?n0]"
        case 1 => s"[?e :dept ${ednConst(dept)}]"
        case 2 => s"[?e :salary ?s0] [(> ?s0 ${ednConst(sal)})]"
      }
      val edn = s"{:find [?e (pull ?e [${spec.map(ednPullEntry).mkString(" ")}])] " +
        s":where [$where]}"
      val got = runEdn(edn).map(r => (r(0), canonStruct(r(1)))).toSet
      val wantIds = emps.filter(e => whereMode match {
        case 0 => true
        case 1 => e.dept == dept
        case 2 => e.salary > sal
      }).map(_.id)
      val want = wantIds.map(id => (id: Any, naivePull(id, spec))).toSet
      assert(got == want, s"mismatch for $edn\n  spark-only: ${(got -- want).take(2)}" +
        s"\n  naive-only: ${(want -- got).take(2)}")
    }
  }

  test("differential: unbounded pull over 5- and 30-deep manager chains unrolls to the true depth") {
    // Chain discovery probes several levels per job. Each batch must start
    // one level past the previous batch's last frontier: starting AT it
    // counted that level twice, so a 5-deep chain unrolled to 6 and a
    // legal 30-deep chain overflowed MaxDiscoveredDepth. The 5-deep pull
    // is compared row for row with the naive evaluator; the 30-deep one by
    // the nesting of its result type (executing 30 unrolled levels costs
    // minutes and checks nothing the 5-deep rows do not).
    def chain(depth: Int) = (0 to depth).map(i => DiffEmp(s"c$i", s"n$i", "eng", 1.0, 1L,
      if (i < depth) s"c${i + 1}" else null))
    val edn = "{:find [?e (pull ?e [:name {:manager ...}])] :where [[?e :name ?n]]}"
    def nesting(t: org.apache.spark.sql.types.DataType): Int = t match {
      case st: org.apache.spark.sql.types.StructType =>
        st.fields.find(_.name == "manager").fold(0)(f => 1 + nesting(f.dataType))
      case _ => 0
    }
    val failures = Seq(5, 30).flatMap { depth =>
      val docs = chain(depth)
      EdnDatalog.run(docs.toDF(), edn) match {
        case Left(e) => Some(s"depth $depth rejected: $e")
        case Right(df) =>
          val levels = nesting(df.schema.fields(1).dataType)
          if (levels != depth) Some(s"depth $depth unrolled to $levels levels")
          else if (depth > 5) None
          else {
            val byId = docs.map(e => e.id -> Map[String, Any]("id" -> e.id,
              "name" -> e.name, "manager" -> e.manager)).toMap
            val want = docs.map(e => (e.id,
              naivePull(e.id, Seq(GPAttr("name", None, None), GPRecur(depth)), byId))).toSet
            val got = df.collect().toSeq.map(r => (r.getString(0), canonStruct(r.get(1)))).toSet
            if (got == want) None
            else Some(s"depth $depth: spark-only ${(got -- want).take(1)}" +
              s"\n  naive-only ${(want -- got).take(1)}")
          }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
