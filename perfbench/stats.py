"""Statistics for the benchmark: percentiles, due-time latency, span self time
and metric-name checks. Pure functions over plain Python data, so they are
tested on their own (test_stats.py)."""

import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

MIN_BEYOND = 10


def check_name(name):
    """A metric name: starts with a letter or digit, at most 64 of
    [A-Za-z0-9_.-]."""
    if not isinstance(name, str) or not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit):
    if not isinstance(unit, str) or not UNIT_RE.fullmatch(unit):
        raise ValueError(f"bad unit {unit!r}")
    return unit


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1) that has at least MIN_BEYOND
    samples above its rank; raises ValueError when there are too few samples
    to report it."""
    if not 0 < q < 1:
        raise ValueError(f"quantile {q} outside (0, 1)")
    xs = sorted(values)
    n = len(xs)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it; have {n} samples")
    return xs[rank - 1]


def latency_ms(sample):
    """Latency of one request from when it was due, in ms."""
    return (sample["done"] - sample["due"]) / 1e6


def lateness_ms(sample):
    """How late the generator sent the request, in ms."""
    return (sample["sent"] - sample["due"]) / 1e6


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, outer):
    s, e = max(interval[0], outer[0]), min(interval[1], outer[1])
    return (s, e) if e > s else None


def self_time(span, children):
    """A span's duration minus the part of it its children cover. Children
    may overlap each other and may stick out of the parent."""
    outer = (span["start"], span["end"])
    inside = [c for c in (clip((ch["start"], ch["end"]), outer) for ch in children) if c]
    return (outer[1] - outer[0]) - union_length(inside)


# jobs a request or a gate may have run: store writes (a commit) and the rest
JOB_SPANS = ("spark.job", "spark.job.write")
LISTENER_SPANS = JOB_SPANS + ("spark.job.stream", "spark.job.poll", "stream.batch")
# the only requests that write to the store: among several open requests,
# a spark.job.write is theirs and another job is not
WRITE_REQUESTS = ("client.ingest",)
# requests that start no Spark job (a push only appends to an in-memory
# source), so they never make another request's jobs ambiguous
JOBLESS_REQUESTS = ("client.push",)
# requests the client thread runs itself (direct calls): their jobs carry
# the request's tag, so an untagged job is never theirs
DIRECT_REQUESTS = ("client.probe.", "gate:")
# listener times come in whole milliseconds; a job that starts inside a
# request can read up to 1 ms before the request's nanosecond start
TOLERANCE_NS = 1_000_000


def attach(spans):
    """Give each driver-thread Spark job span (recorded without a parent) a
    parent: the deepest client span open at its start, among the spans of the
    request the job is tagged with, or, untagged (jobs a server thread ran),
    provided exactly one request is open then, or among several open ones
    exactly one that can have run it (a store write is an ingest's, another
    job is not). Returns (spans, ids of requests that had a job
    they may share with another request open beside them). Stream jobs and
    batches stay unattached: they belong to the stream layer."""
    client = [s for s in spans if s["name"] not in LISTENER_SPANS]
    roots = sorted((s for s in client if s["parent"] == 0 and s["name"] not in JOBLESS_REQUESTS),
                   key=lambda s: s["start"])
    kids = children_index(client)

    def contains(c, t):
        return c["start"] - TOLERANCE_NS <= t <= c["end"]

    out, shared = [], set()
    for s in spans:
        if s["name"] in JOB_SPANS and s["parent"] == 0:
            if s["req"]:
                # tagged by the thread that ran it: only that request's spans
                open_roots = [r for r in roots if r["req"] == s["req"]]
            else:
                open_roots = [r for r in roots if contains(r, s["start"])
                              and not r["name"].startswith(DIRECT_REQUESTS)]
                write = s["name"] == "spark.job.write"
                fits = [r for r in open_roots if r["name"].startswith(WRITE_REQUESTS) == write]
                if len(open_roots) > 1 and len(fits) == 1:
                    open_roots = fits
            if len(open_roots) == 1:
                best = open_roots[0]
                deeper = True
                while deeper:
                    deeper = False
                    for c in kids.get(best["id"], []):
                        if contains(c, s["start"]):
                            best, deeper = c, True
                            break
                s = dict(s, parent=best["id"], req=best["req"])
            elif len(open_roots) > 1:
                shared.update(r["id"] for r in open_roots)
        out.append(s)
    return out, shared


def children_index(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def descendants(span_id, kids):
    stack, out = [span_id], []
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c["id"])
    return out


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
