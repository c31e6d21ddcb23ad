"""Pure measurement arithmetic for the benchmark, kept apart from process
handling so it can be unit-tested (see test_metrics.py)."""
import math
import re

# The tail percentile is the highest rung of this ladder that still has at
# least TAIL_MIN_BEYOND samples beyond it; with fewer samples the maximum
# is reported.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(values):
    v = sorted(values)
    if not v:
        return 0.0
    mid = len(v) // 2
    return float(v[mid]) if len(v) % 2 else (v[mid - 1] + v[mid]) / 2.0


def mean(values):
    v = list(values)
    return sum(v) / len(v) if v else 0.0


def rank(n, p):
    """1-based nearest rank of percentile p among n samples."""
    return min(n, max(1, math.ceil(round(p * n, 6) / 100.0)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    v = sorted(values)
    return float(v[rank(len(v), p) - 1]) if v else 0.0


def tail_rung(n):
    """The percentile reported as the tail for n samples, or 100.0 (the
    maximum) when no rung has TAIL_MIN_BEYOND samples beyond it."""
    for p in TAIL_LADDER:
        if n - rank(n, p) >= TAIL_MIN_BEYOND:
            return p
    return 100.0


def tail(values):
    """(percentile used, value) under the tail rule."""
    p = tail_rung(len(values))
    return p, (float(max(values)) if p == 100.0 else percentile(values, p))


def batch_of_records(shards, seqs, batch_ends):
    """Map each record (shard index, sequence number) to the index of the
    first micro-batch whose end offset on that shard reaches it.

    batch_ends holds, per batch in commit order, the end offset per shard
    index (-1 when the shard had no records yet). A batch that admitted
    nothing (an empty trigger) repeats the previous end offsets and so never
    claims a record. Records beyond the last batch map to None."""
    out = []
    for shard, seq in zip(shards, seqs):
        hit = None
        for i, ends in enumerate(batch_ends):
            if ends[shard] >= seq:
                hit = i
                break
        out.append(hit)
    return out


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the intervals after clipping to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of it its
    children cover (children may overlap each other or stick out of the
    parent; only the covered part of the parent counts)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


# The streaming engine stamps every job of a query with the call site that
# started the query, so inside a micro-batch the SQL executions are told
# apart by what they do: the file they write, or the shape of their plan.
SINK_RULES = (
    ("sinks.dlq", re.compile(r"InsertIntoHadoopFsRelationCommand[\s\S]*Arguments: \S+/dlq,")),
    ("sinks.es", re.compile(r"InsertIntoHadoopFsRelationCommand[\s\S]*Arguments: \S+/es,")),
    ("sinks.dlq", re.compile(r"^CollectLimit[\s\S]*InMemoryTableScan")),
    ("sinks.splunk", re.compile(r"^DeserializeToObject")),
    ("streaming.batch", re.compile(r"MicroBatchScan")),
)


def sink_of_plan(plan):
    """The layer of a SQL execution inside a fan-out micro-batch, by its
    plan summary; anything unrecognised is 'other'."""
    for layer, pattern in SINK_RULES:
        if pattern.search(plan or ""):
            return layer
    return "other"


# Call-site rules for jobs run from the caller's thread (the query mix),
# tried in order: the first whose pattern occurs anywhere in a long call
# site (Spark's stack at job submission) names the layer. Inner, more
# specific layers come before the layers that call them.
LAYER_RULES = (
    ("tables", re.compile(r"graft\.Tables\$")),
    ("queries.operators", re.compile(r"graft\.operators\.")),
    ("queries", re.compile(r"graft\.queries\.")),
)


def layer_of(call_site):
    """The layer a job or SQL execution belongs to, by its call site;
    anything unrecognised is 'other', never dropped."""
    for layer, pattern in LAYER_RULES:
        if pattern.search(call_site or ""):
            return layer
    return "other"

