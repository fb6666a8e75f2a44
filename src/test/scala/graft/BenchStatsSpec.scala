package graft

import graft.obs.Profile

/** Job-count budgets for the ITERATIVE TRAINERS — the gates whose cost is
  * dominated by scheduling (model rounds), not data. The round-3 job
  * explosions were caught by eyeballing per-gate job counts (now the
  * bench's `job_stats` rows; `JobCensus` lists a gate's jobs); these
  * budgets turn a recurrence (a lost reused exchange, AQE re-planning
  * inside a round, an accidental per-round action) into a CI failure, the
  * way GraphSpec pins connected-components rounds.
  *
  * Budgets are measured ceilings + slack, not aspirations: a trainer that
  * doubles its job count has changed plan shape, whatever the wall-clock
  * says. Runs at sf0.001 — job STRUCTURE is scale-invariant (that is the
  * point of pinning jobs instead of seconds).
  */
class BenchStatsSpec extends SparkSpec {

  /** Jobs started by running `name` from SparkEntry.queries. */
  private def jobsFor(name: String): Int = {
    // a cold ModelCache makes the count deterministic: each budget below
    // INCLUDES the gate's own training jobs (the solo-run worst case)
    graft.core.ModelCache.clear()
    val p = Profile(spark)(SparkEntry.queries(name)(spark, sf("sf0.001")).count())
    graft.core.CacheRegistry.unpersistAll()
    p.result.get
    p.jobs.size
  }

  // (gate, budget): measured at r8 + ~50% slack. PageRank is
  // fixed-round edge-linear iteration (~14 jobs); the classifier is 3 GD
  // rounds over a built-once feature table (~20 cold); cluster stats is
  // quantizer training + the broadcast-argmin assignment (~10 cold).
  private val budgets = Seq(
    ("graph_pagerank", 22),
    ("corpus_quality_classifier", 26),
    ("corpus_cluster_stats", 12), // 8 measured cold (r14 native-argmin assignment)
    // not trainers, but the next-highest job counts in the suite (~18
    // each): multi-stage pipelines whose stage list is fixed — a job-count
    // jump means a stage started re-executing (lost persist) or re-planning
    ("pipeline_clean_corpus", 40), // 28 measured cold at sf0.001 (stages the pair artifact)
    // r14: ratioTable's nt/nr totals became window sums over the joined
    // buckets table (two agg jobs + two broadcast builds gone) —
    // 18→15 / 16→12 measured; budgets re-tightened to the new plan
    ("corpus_dsir_select", 20),
    ("corpus_dsir", 16),
    ("similarity_pq", 10),          // 7 measured cold (r14 native-argmin trainer)
    // r11: extended to the top-15 gates by measured bench cost (r10
    // bench_result.json job_stats), budgets = cold sf0.001 measurement
    // + ~50% slack
    ("dedup_stream_filter", 32),    // 21 measured (staged shingle index + batches)
    // r15: the range gate pre-aggregates points to day granularity BELOW
    // the bin join (the raw-pair spelling was the one super-linear plan
    // the full-registry ritual caught: |points|·density pairs, 32× at 10×
    // data). A jump past the ceiling means the pre-agg stopped feeding
    // the join and the pair explosion is back.
    ("join_range_binned", 11),      // 7 measured at sf0.1 (r15 pre-agg plan)
    ("dedup_ngram_jaccard", 20),    // 13
    // r16: +persisted thin rawSigs (srp runs once, not 4x) and the alias
    // self-join whose ReusedExchange ships the array-carrying signature
    // rows through ONE (t,bucket) shuffle instead of one per side —
    // sf10 105 -> 45 s, decade ratio 9.0x -> 3.0x at +2 (tiny) jobs
    ("dedup_embedding_lsh", 26),    // 20 measured cold (r16 reuse plan)
    ("dedup_minhash", 17),          // 11
    ("text_bm25_topk", 11),         // 7
    ("corpus_decontam_report", 18), // 12
    ("corpus_bpe_merges", 21),      // 14 (10 sequential merge rounds + scan)
    ("text_top_terms", 14),         // 9
    ("dedup_semantic", 20),         // 15 measured cold (r14 native-argmin train+assign)
    ("dedup_simhash", 23),          // 15
    // r11: the heaviest new datalog gate — a fixed 2-level pull cascade
    // (dedup + two id equi-joins); a job-count jump means the pull side
    // started re-planning or lost its single-pass shape
    ("datalog_pull_nested", 12),    // 8 measured cold at sf0.001
    // r12: the staged CLUSTER-LABEL artifact (VERDICT r11 #2) — the CC
    // fixpoint runs once at stage time; clusters/canonical-best/clean all
    // consume the label table. Solo-cold includes pair staging AND label
    // staging (the worst case); once staged, clusters reads in 3 jobs and
    // canonical-best in 11 (r11: 13/21 with a full CC re-run in the
    // latter). A jump past the ceiling means the argmax started
    // re-running connected components.
    ("dedup_clusters", 48),         // 34 measured solo-cold (both stagings)
    ("dedup_canonical_best", 58),   // 42 measured solo-cold = clusters + argmax
    // r13 (VERDICT r12 #2): unbounded recursive pull — the spec projection
    // is materialized once (hash-partitioned by id, reused by every
    // unrolled level), chain discovery probes are raw RDD counts (one job
    // per level, no AQE stage fan), then the discovered-depth join
    // cascade runs over the materialized leaf. r15 adds FRONTIER PUSHDOWN
    // (VERDICT r14 #3): each level semi-joins the parent level's resolved
    // ref ids into the cached leaf before building structs, so level cost
    // tracks the frontier, not the corpus (sf10 decade 11.2×→4.4×, sf10
    // wall 41.2→14.9 s). The pushdown's per-level semi-join + frontier
    // distinct fan into more (tiny) AQE jobs on the cached leaf: 31
    // measured at sf0.1 — fixed overhead bounded by depth, traded for
    // corpus-volume joins at scale.
    ("datalog_pull_recursive", 36)) // 31 measured at sf0.1 (r15 frontier plan)

  for ((gate, budget) <- budgets)
    test(s"$gate stays within its job budget ($budget)") {
      val jobs = jobsFor(gate)
      info(s"$gate: $jobs jobs (budget $budget)")
      assert(jobs <= budget,
        s"$gate launched $jobs jobs (budget $budget) — the trainer's plan " +
          "shape regressed (extra per-round actions or lost exchange reuse)")
    }
}
