"""Per-layer metrics from the spans a traced run records.

A span is a dict with `id`, `op` (id of its top-level operation),
`parent` (0 for an operation), `name`, `start_ns`, `end_ns`, `attrs`
(counts probed at the span) and `spark` (the Spark work observed while
it was the innermost open span: jobs, stages, tasks, job intervals,
shuffle, spill, GC and query-planning phase times).
"""
import json
import statistics

MODULES = ["Scans", "Basics", "SortLimit", "SetOps", "Joins", "Subqueries",
           "Aggregations", "Windows", "Composed", "Composed2"]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """{span id: self time in ns}: a span's duration minus the part of
    its interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_length([(max(c["start_ns"], lo), min(c["end_ns"], hi))
                                for c in children.get(s["id"], [])])
        out[s["id"]] = (hi - lo) - covered
    return out


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(num, den):
    return num / den if den else 0.0


def _plan_ms(work):
    return work["analysis_ms"] + work["optimizer_ms"] + work["planning_ms"]


# the per-layer metrics each workload must back with spans: a traced run
# whose spans leave one of these unmeasured is an instrument defect
REQUIRED = {
    "cdc_upsert": ("spark.", "cdc.", "sources."),
    "analytics_mix": ("spark.", "relational."),
    "corpus_prep": ("spark.", "llm."),
}


def per_layer(spans):
    """Every per-layer metric of the benchmark from one run's spans, and
    the set of names that some span or attribute backs. A metric nothing
    backs reads 0 and is left out of that set."""
    ms = 1e-6
    self_ns = self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    ops = [s for s in spans if s["parent"] == 0]
    subtree = {o["id"]: [s for s in spans if s["op"] == o["id"]] for o in ops}
    tasks = [t for s in spans for t in s["spark"]["task_ms"]]
    planned = any(s["spark"]["queries"] for s in spans)
    m, measured = {}, set()

    def put(name, value, backed):
        m[name] = value
        if backed:
            measured.add(name)

    def named(name):
        return by_name.get(name, [])

    def with_attr(name, key):
        return [s for s in named(name) if key in s["attrs"]]

    def op_mean(key):
        return _mean(sum(s["spark"][key] for s in subtree[o["id"]]) for o in ops)

    def self_ms(name):
        put(f"{name}_ms", _mean(self_ns[s["id"]] * ms for s in named(name)),
            bool(named(name)))

    def dur_ms(name):
        put(f"{name}_ms", _mean((s["end_ns"] - s["start_ns"]) * ms for s in named(name)),
            bool(named(name)))

    def attr_mean(metric, name, key):
        xs = with_attr(name, key)
        put(metric, _mean(s["attrs"][key] for s in xs), bool(xs))

    def attr_ratio(metric, name, num, den):
        xs = with_attr(name, den)
        put(metric, _ratio(sum(s["attrs"].get(num, 0.0) for s in xs),
                           sum(s["attrs"][den] for s in xs)),
            bool(xs) and all(num in s["attrs"] for s in xs))

    def job_ms(op):
        lo, hi = op["start_ns"] * ms, op["end_ns"] * ms
        return union_length([(max(a, lo), min(b, hi)) for s in subtree[op["id"]]
                             for a, b in s["spark"]["job_intervals_ms"]])

    for phase in ["analysis", "optimizer", "planning"]:
        put(f"spark.{phase}_ms", op_mean(f"{phase}_ms"), planned)
    for unit in ["jobs", "stages", "tasks"]:
        put(f"spark.{unit}_per_op", op_mean(unit), bool(ops))
    put("spark.job_ms", _mean(job_ms(o) for o in ops), bool(ops))
    put("spark.driver_gap_ms", _mean((o["end_ns"] - o["start_ns"]) * ms - job_ms(o)
                                     for o in ops), bool(ops))
    for key in ["shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]:
        put(f"spark.{key}", op_mean(key), bool(tasks))
    put("spark.task_ms_p50", statistics.median(tasks) if tasks else 0.0, bool(tasks))
    put("spark.task_ms_max", max(tasks, default=0.0), bool(tasks))
    put("spark.executor_gc_ms", op_mean("gc_ms"), bool(tasks))

    for name in ["cdc.decode", "cdc.prepare", "cdc.commit", "cdc.manifest_read",
                 "sources.range_plan", "sources.range_exec"]:
        self_ms(name)
    attr_ratio("cdc.dlq_frac", "cdc.merge", "dlq_rows", "envelopes")
    attr_mean("cdc.manifest_bytes", "cdc.merge", "manifest_bytes")
    attr_ratio("cdc.buckets_touched_frac", "cdc.merge", "buckets_touched", "buckets")
    attr_ratio("cdc.write_amp", "cdc.merge", "staged_bytes", "input_bytes")
    attr_mean("cdc.buckets_read_per_lookup", "cdc.lookup", "buckets_read")
    xs = with_attr("cdc.merge", "files_per_bucket_max")
    put("cdc.files_per_bucket_max",
        max((s["attrs"]["files_per_bucket_max"] for s in xs), default=0.0), bool(xs))
    dur_ms("cdc.compact")
    attr_mean("cdc.compact_bytes_rewritten", "cdc.compact", "bytes_rewritten")
    dur_ms("cdc.vacuum")
    attr_mean("cdc.vacuum_files_deleted", "cdc.vacuum", "files_deleted")

    rel_ops = [o for o in ops if o["name"].startswith("relational.")]
    for mod in MODULES:
        dur_ms(f"relational.{mod}")
    put("relational.plan_frac", _ratio(
        sum(_plan_ms(s["spark"]) for o in rel_ops for s in subtree[o["id"]]),
        sum((o["end_ns"] - o["start_ns"]) * ms for o in rel_ops)),
        any(s["spark"]["queries"] for o in rel_ops for s in subtree[o["id"]]))

    for stage in ["minhash", "cluster", "sample_split", "shards", "ivf_call",
                  "ivf_exec"]:
        self_ms(f"llm.{stage}")
    attr_mean("llm.nd_edges", "llm.stages", "nd_edges")
    execs = named("llm.ivf_exec")
    put("llm.ivf_plan_ms", _mean(_plan_ms(s["spark"]) for s in execs),
        any(s["spark"]["queries"] for s in execs))
    return m, measured


def unmeasured(workload, measured, names):
    """The metrics among `names` that `workload` must back but did not."""
    return sorted(n for n in names
                  if n.startswith(REQUIRED[workload]) and n not in measured)


def overhead_pct(samples):
    """Tracing overhead of a traced run, in percent: each operation kind
    alternates traced and untraced executions; this compares the summed
    medians of the two sides over the kinds that have both."""
    traced = untraced = 0.0
    for name, xs in samples.items():
        if name.endswith("_traced") and samples.get(name[:-7] + "_untraced"):
            traced += statistics.median(xs)
            untraced += statistics.median(samples[name[:-7] + "_untraced"])
    return 100.0 * (traced / untraced - 1.0) if untraced else 0.0
