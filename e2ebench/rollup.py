"""Statistics and the per-layer rollup of a traced run.

Pure functions over the run record the harness writes (`scala/Main.scala`):
op timings, spans, Spark jobs and counters. Times in the record are in ms
on one epoch-anchored clock; everything returned here is in seconds.
"""

import math
import statistics

# The layer each span name is charged to. Jobs are charged by classify_job.
LAYER_OF_SPAN = {
    "op": "trace.unattributed",
    "rag": "rag.self",
    "embed": "embed",
    "search.plan": "search.plan",
    "store.read": "store.read",
    "store.commit": "store.commit",
    "rag.completion": "rag.completion",
    "trace": "trace.self",
}

# Self-time layers of one op, in table order (`queries.<name>` come after).
LAYERS = ["search.scan", "search.plan", "store.commit", "store.read", "rag.self",
          "rag.completion", "embed", "trace.self", "trace.unattributed"]


def layer_of_span(name):
    return LAYER_OF_SPAN.get(name, name)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[max(1, math.ceil(p / 100.0 * len(xs))) - 1]


def tail_percentile(n, beyond=10, choices=(99, 95, 90, 80, 75, 50)):
    """The highest of `choices` that leaves at least `beyond` of `n` samples
    above it, or None when even the median does not."""
    for p in choices:
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p
    return None


def classify_job(span_layer, call_site):
    """Charges one Spark job to a layer.

    `span_layer` is the layer of the innermost span open when the job was
    submitted; `call_site` is the job's long call site (user frames,
    innermost first). Jobs under a store span belong to that store layer. A
    job submitted under the searcher's span, or from the chat engine's
    `vectorSearch`, is the k-NN scan. Any other job the chat engine submits
    re-reads the completions table. Everything else stays with its span.
    """
    if span_layer in ("store.commit", "store.read"):
        return span_layer
    if span_layer == "search.plan" or "graft.rag.ChatEngine.vectorSearch" in call_site:
        return "search.scan"
    if "graft.rag.ChatEngine." in call_site:
        return "store.read"
    return span_layer


def self_times(intervals, root):
    """Charges every instant of `root` to exactly one interval.

    `intervals` are (layer, depth, t0, t1); at each instant the deepest
    open interval wins, and among equally deep ones the one opened last.
    Time no interval covers goes to `root`'s layer, so the per-layer times
    always add up to the root's duration, however the intervals nest or
    overlap.
    """
    layer0, t0, t1 = root
    cuts = sorted({t0, t1} | {min(t1, max(t0, x)) for _, _, a, b in intervals for x in (a, b)})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2.0
        best = None
        for layer, depth, s, e in intervals:
            if s <= mid < e and (best is None or (depth, s) >= best[:2]):
                best = (depth, s, layer)
        layer = best[2] if best else layer0
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def union_length(intervals, t0, t1):
    """Length of the union of intervals, clipped to [t0, t1]."""
    total, end = 0.0, t0
    for s, e in sorted((max(s, t0), min(e, t1)) for s, e in intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def timed_ops(record):
    """Per timed op: (index, kind, wall s, {layer: self s}, [(layer, job)])."""
    spans = {s[0]: s for s in record["spans"]}
    depth = {}

    def d(sid):
        if sid not in depth:
            depth[sid] = 0 if spans[sid][1] not in spans else d(spans[sid][1]) + 1
        return depth[sid]

    spans_of, jobs_of = {}, {}
    for s in record["spans"]:
        spans_of.setdefault(s[3], []).append(s)
    for j in record["jobs"]:
        if j[1] in spans:
            sp = spans[j[1]]
            jobs_of.setdefault(sp[3], []).append((classify_job(layer_of_span(sp[2]), j[10]), j))
    out = []
    for idx, phase, kind, t0, t1 in (o[:5] for o in record["ops"]):
        if phase != "timed":
            continue
        ivs = [(layer_of_span(s[2]), d(s[0]), s[4], s[5]) for s in spans_of.get(idx, [])
               if s[2] != "op"]
        jobs = jobs_of.get(idx, [])
        ivs += [(layer, d(j[1]) + 1, j[2], j[3] if j[3] >= 0 else t1) for layer, j in jobs]
        selfs = self_times(ivs, ("trace.unattributed", t0, t1))
        out.append((idx, kind, (t1 - t0) / 1e3, {k: v / 1e3 for k, v in selfs.items()}, jobs))
    return out


def layer_metrics(record, query_names):
    """The per-layer metrics of one traced run (see BENCHMARK.json)."""
    ops = timed_ops(record)
    n = max(1, len(ops))
    self_s, spark = {}, dict.fromkeys(["jobs", "tasks", "run", "shuffle", "spill", "gap"], 0.0)
    scanned, read_jobs = 0, 0
    for idx, kind, wall, selfs, jobs in ops:
        for k, v in selfs.items():
            self_s[k] = self_s.get(k, 0.0) + v
        t0, t1 = record["ops"][idx][3], record["ops"][idx][4]
        spark["gap"] += (t1 - t0 - union_length([(j[2], j[3]) for _, j in jobs], t0, t1)) / 1e3
        for layer, j in jobs:
            spark["jobs"] += 1
            spark["tasks"] += j[4]
            spark["run"] += j[5] / 1e3
            spark["shuffle"] += j[6]
            spark["spill"] += j[8]
            scanned += j[9] if layer == "search.scan" else 0
            read_jobs += layer == "store.read"
    tc, sc = record["timed_counters"], record["setup_counters"]
    commits = tc.get("store.commits", 0)
    m = {
        "search.scan_s": self_s.get("search.scan", 0.0) / n,
        "search.plan_s": self_s.get("search.plan", 0.0) / n,
        "search.rows_scored": scanned / n,
        "store.commit_s": self_s.get("store.commit", 0.0) / n,
        "store.commits": commits / n,
        "store.files_per_commit": tc.get("store.files", 0) / max(1, commits),
        "store.bytes_per_commit": tc.get("store.bytes", 0) / max(1, commits),
        "store.read_s": self_s.get("store.read", 0.0) / n,
        "store.read_jobs": read_jobs / n,
        "rag.self_s": self_s.get("rag.self", 0.0) / n,
        "rag.completion_s": self_s.get("rag.completion", 0.0) / n,
        "rag.prompt_tokens": tc.get("rag.prompt_tokens", 0) / n,
        "embed.op_s": self_s.get("embed", 0.0) / n,
        "embed.calls": sc.get("embed.calls", 0),
        "embed.texts": sc.get("embed.texts", 0),
        "embed.busy_s": sc.get("embed.busy_ns", 0) / 1e9,
    }
    for q in query_names:
        times = [wall for idx, kind, wall, selfs, jobs in ops if kind == q]
        m["queries.%s_s" % q] = statistics.median(times) if times else 0.0
    m.update({
        "spark.jobs_per_op": spark["jobs"] / n,
        "spark.tasks_per_op": spark["tasks"] / n,
        "spark.executor_run_s": spark["run"] / n,
        "spark.driver_gap_s": spark["gap"] / n,
        "spark.shuffle_bytes": spark["shuffle"] / n,
        "spark.spill_bytes": spark["spill"] / n,
        "trace.unattributed_s": self_s.get("trace.unattributed", 0.0) / n,
        "trace.self_s": self_s.get("trace.self", 0.0) / n,
        "jvm.gc_s": record["diag"]["gc_timed_s"] / n,
    })
    return m


def table(workload, record, untraced=None):
    """The per-layer table of one traced run, as markdown: mean self time
    per op of each layer that any op spent time in, by op kind; the residue
    check; and the tracing overhead against an untraced run of the same seed
    when one is given."""
    ops = timed_ops(record)
    kinds = sorted({k for _, k, _, _, _ in ops})
    seen = {l for _, _, _, s, _ in ops for l, v in s.items() if v > 0}
    layers = [l for l in LAYERS if l in seen] + sorted(seen - set(LAYERS))
    lines = ["# %s: per-layer self time per op (s), traced run" % workload, "",
             "| layer | " + " | ".join("%s (n=%d)" % (k, sum(o[1] == k for o in ops))
                                       for k in kinds) + " |",
             "|---|" + "---|" * len(kinds)]
    for layer in layers + ["wall"]:
        cells = []
        for k in kinds:
            sel = [o for o in ops if o[1] == k]
            v = sum(o[2] if layer == "wall" else o[3].get(layer, 0.0) for o in sel) / len(sel)
            cells.append("%.4f" % v)
        lines.append("| %s | %s |" % (layer, " | ".join(cells)))
    worst = max((abs(sum(o[3].values()) - o[2]) for o in ops), default=0.0)
    lines += ["", "Layer self times add up to each op's wall time within %.1e s; "
              "the residue no layer covers is `trace.unattributed`." % worst]
    if untraced:
        lines.append("Tracing overhead: op_p50_s %.4f s traced vs %.4f s untraced (%+.1f%%)."
                     % (untraced[0], untraced[1], 100.0 * (untraced[0] / untraced[1] - 1)))
    else:
        lines.append("Tracing overhead: run the same seed with `--trace 0` first to compare.")
    return "\n".join(lines) + "\n"
