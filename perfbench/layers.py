"""Turn one raw harness outcome into the benchmark's metrics.

end_to_end(raw): what a user of the workload sees; per_layer(raw, spans,
ref): what each module did, from counters and from the traced run's spans.
A layer that is idle on a workload reports 0 there."""

import statistics

from stats import (JOB_SPANS, attach, children_index, descendants, latency_ms, lateness_ms, mean,
                   percentile, self_time, union_length)

# operations a user waits on: a gate's answer, an ingest acknowledgement, a
# query answer, a pushed event reaching the sink
USER_KINDS = ("gate", "ingest", "query", "push_to_sink")
# name prefixes with at least three gates in the registry set get their own
# wall-time metric; the rest are pooled as "other"
GATE_GROUPS = ("agg",)


def kind_of(kind):
    return kind.split(":", 1)[0]


def samples(raw):
    return [{"kind": k, "due": d, "sent": s, "done": e, "error": err}
            for k, d, s, e, err in raw["samples"]]


def outcome_counts(raw):
    """(attempted, failed, failure messages) over every checked operation."""
    ss = samples(raw)
    failures = [s["error"] for s in ss if s["error"]] + raw["checks"]["failures"]
    return len(ss) + raw["checks"]["attempted"], len(failures), failures


def kind_summary(raw):
    """Count, median and maximum latency (ms) per operation kind, for the log."""
    by = {}
    for s in samples(raw):
        by.setdefault(kind_of(s["kind"]), []).append(latency_ms(s))
    return {k: [len(v), round(statistics.median(v), 1), round(max(v), 1)] for k, v in by.items()}


def jit_cpu_ms(counters):
    return sum(v for k, v in counters.items() if k.startswith("cpu.thread.jit."))


def cpu_per_op_ms(counters, ops):
    # the JIT compilers' time is the JVM warming up, not the program
    # serving: 40-50% of the window (reported as cpu.jit_share)
    return (counters["process_cpu_ms"] - jit_cpu_ms(counters)) / max(1, ops)


def end_to_end(raw):
    ss = samples(raw)
    requests = [s for s in ss if kind_of(s["kind"]) in ("gate", "ingest", "query", "push")]
    passes = raw["facts"].get("pass_counters")
    if passes:
        # registry: the median pass, each pass calling every gate once
        per_pass = len(requests) / len(passes)
        cpu = statistics.median(cpu_per_op_ms(c, per_pass) for c in passes)
    else:
        cpu = cpu_per_op_ms(raw["counters"], len(requests))
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "cpu_per_op_ms": cpu,
        "heap_live_mb": raw["facts"]["heap_live_mb"],
    }


# where the process CPU of the timed window went: stream micro-batches
# (their driver threads and jobs), request handling (the collector's HTTP
# handler threads; the jobs of requests and of gates), background
# maintenance and alert polling, the benchmark's callers (on registry, the
# gates' driver side), the JIT compilers, the garbage collector, and the
# rest (Spark's scheduler, listener and query-stage threads, threads that
# ended inside the window)
CPU_PARTS = ("stream", "request", "background", "caller", "jit", "gc")


def cpu_shares(raw):
    """Each part's share of the window's process CPU, from per-thread CPU
    time and the task metrics of each kind of Spark job."""
    c = raw["counters"]
    total = c["process_cpu_ms"]
    parts = {p: c.get(f"cpu.tasks.{p}", 0.0) for p in CPU_PARTS}
    for k, v in c.items():
        if k.startswith("cpu.thread."):
            p = k.split(".")[2]
            if p in parts:
                parts[p] += v
    parts["other"] = total - sum(parts.values())
    return {p: v / total for p, v in parts.items()}


def latency(raw):
    """Median and 80th percentile of the user-facing operations' latency
    from due time. Reported per layer, not end to end: on the shared host
    these moved by a third between seeds of the same code (see README)."""
    user = [latency_ms(s) for s in samples(raw) if kind_of(s["kind"]) in USER_KINDS]
    return {"ops.p50_ms": percentile(user, 0.5), "ops.p80_ms": percentile(user, 0.8)}


def _median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def _durations_ms(spans, name):
    return [(s["end"] - s["start"]) / 1e6 for s in spans if s["name"] == name]


def per_layer(raw, spans, ref):
    """`ref` is the raw outcome of the untraced run of the same seed."""
    ss = samples(raw)
    facts = raw["facts"]
    c = raw["counters"]
    by_kind = {}
    for s in ss:
        by_kind.setdefault(kind_of(s["kind"]), []).append(s)
    lat = {k: [latency_ms(s) for s in v] for k, v in by_kind.items()}

    spans, shared = attach(spans)
    kids = children_index(spans)
    jobs_of = {}  # span id -> spark.job spans anywhere below it

    def jobs_below(span):
        if span["id"] not in jobs_of:
            jobs_of[span["id"]] = [d for d in descendants(span["id"], kids) if d["name"] in JOB_SPANS]
        return jobs_of[span["id"]]

    def job_ms(span):
        return union_length([(j["start"], j["end"]) for j in jobs_below(span)]) / 1e6

    def named(prefix):
        return [s for s in spans if s["name"] == prefix or s["name"].startswith(prefix + ":")]

    # per-request layer times only from HTTP requests whose jobs are known to
    # be theirs: no other request was open when one of them started (direct
    # calls tag their jobs, so they never share)
    ingest_spans = [s for s in named("client.ingest") if s["id"] not in shared]
    gate_spans = [s for s in spans if s["name"].startswith("gate:")]
    m = {}

    # api: CollectorServer
    # an ingest request's only children are the Spark jobs it ran, so its
    # self time is the request time outside jobs
    m["api.ingest_nonjob_ms"] = mean(self_time(s, kids.get(s["id"], [])) / 1e6 for s in ingest_spans)
    m["api.push_ms"] = mean((s["done"] - s["sent"]) / 1e6 for s in by_kind.get("push", []))
    m["api.non2xx"] = facts.get("api_non2xx", 0)

    # store: DocumentStore
    m["store.commit_ms"] = mean(job_ms(s) for s in ingest_spans)
    m["store.commit_jobs"] = mean(len(jobs_below(s)) for s in ingest_spans)
    m["store.files_max"] = facts.get("store_files_max", 0)
    m["store.compactions"] = facts.get("store_compactions", 0)
    m["store.bytes_per_user_byte"] = facts.get("store_bytes_per_user_byte", 0.0)
    m["store.snapshot_read_ms"] = mean(_durations_ms(spans, "store.snapshot_read"))

    # query.datalog: EdnDatalog / Compiler, called directly
    m["datalog.build_ms"] = mean(_durations_ms(spans, "datalog.build"))
    m["datalog.build_jobs"] = mean(len(jobs_below(s)) for s in spans if s["name"] == "datalog.build")
    m["datalog.plan_ms"] = mean(_durations_ms(spans, "datalog.plan"))
    m["datalog.exec_ms"] = mean(_durations_ms(spans, "datalog.exec"))
    m["datalog.jobs_per_query"] = mean(len(jobs_below(s)) for s in named("client.probe.datalog"))

    # stream: Topology / StreamManager / MemoryIO, from query progress
    batches = [b for b in facts.get("stream_batches", []) if b[3] > 0]
    m["stream.batches"] = len(batches)
    m["stream.batch_p50_ms"] = _median_or_zero([b[0] for b in batches])
    m["stream.planning_p50_ms"] = _median_or_zero([b[1] for b in batches])
    m["stream.addbatch_p50_ms"] = _median_or_zero([b[2] for b in batches])
    m["stream.rows_per_batch"] = mean(b[3] for b in batches)
    m["stream.dropped_rows"] = facts.get("stream_dropped_rows", 0)
    m["stream.backlog_end"] = facts.get("stream_backlog_end", 0)
    m["stream.duplicates"] = facts.get("stream_duplicates", 0)

    # registry: FunctionManager hot-swap
    swaps = by_kind.get("swap", [])
    arrivals = sorted(s["done"] for k in ("push_to_sink", "warm.push_to_sink")
                      for s in by_kind.get(k, []) if not s["error"])
    m["registry.swap_ms"] = mean(facts.get("swap_ms", []))
    m["registry.swap_gap_ms"] = max([swap_gap_ms(s, arrivals) for s in swaps], default=0.0)

    # gates: SparkEntry over core / query / ext
    m["gates.build_ms"] = mean(_durations_ms(spans, "gate.build"))
    m["gates.build_jobs"] = mean(len(jobs_below(s)) for s in spans if s["name"] == "gate.build")
    m["gates.plan_ms"] = mean(_durations_ms(spans, "gate.plan"))
    m["gates.exec_ms"] = mean(_durations_ms(spans, "gate.exec"))
    m["gates.nonjob_ms"] = mean((s["end"] - s["start"]) / 1e6 - job_ms(s) for s in gate_spans)
    m["gates.one_task_jobs"] = c.get("one_task_jobs", 0) if gate_spans else 0
    walls = {}
    for s in by_kind.get("gate", []):
        prefix = s["kind"].split(":", 1)[1].split("_", 1)[0]
        walls.setdefault(prefix if prefix in GATE_GROUPS else "other", []).append(latency_ms(s))
    for g in GATE_GROUPS + ("other",):
        m[f"gates.{g}.wall_ms"] = mean(walls.get(g, []))
    passes = facts.get("pass_seconds", [])
    m["gates.registry_s"] = statistics.median(passes) if passes else 0.0
    m["gates.registry_cpu_s"] = c["process_cpu_ms"] / 1000 / len(passes) if passes else 0.0

    # spark: SparkListener totals over the timed window
    for k in ("jobs", "tasks", "job_ms", "executor_cpu_ms", "shuffle_bytes", "spill_bytes",
              "scheduler_delay_ms", "gc_ms"):
        m[f"spark.{k}"] = c.get(k, 0)

    # per-operation latencies (from due time), and the generator's lateness
    m.update(latency(raw))
    for k in ("gate", "ingest", "query", "push_to_sink"):
        m[f"ops.{k}_mean_ms"] = mean(lat.get(k, []))
    open_loop = [lateness_ms(s) for s in ss
                 if kind_of(s["kind"]) in ("ingest", "push", "query", "swap")]
    m["loadgen.late_p90_ms"] = percentile(open_loop, 0.9) if open_loop else 0.0

    # where the window's CPU went
    for p, v in cpu_shares(raw).items():
        m[f"cpu.{p}_share"] = v

    # tracing cost: the recorder's own time, and the traced run's CPU per
    # request against the untraced run of the same seed (the traced run's
    # direct probe calls included)
    m["trace.recorder_ms"] = raw["trace_recorder_ms"]
    m["trace.shared_requests"] = len(shared)
    m["trace.overhead_pct"] = 100.0 * (end_to_end(raw)["cpu_per_op_ms"] /
                                       end_to_end(ref)["cpu_per_op_ms"] - 1.0)
    return m


def swap_gap_ms(swap, arrivals):
    """Longest stretch without a sink delivery that overlaps the swap
    request, in ms."""
    lo, hi = swap["sent"], swap["done"]
    best = 0.0
    for a, b in zip(arrivals, arrivals[1:]):
        if b >= lo and a <= hi:
            best = max(best, (b - a) / 1e6)
    return best
