"""Turns the raw run report the harness JVM writes into the benchmark's
metrics: end-to-end metrics from the untraced cycles, per-layer metrics
from the spans, jobs and queries of the traced cycles, and the
workload-specific details (see README.md for what each one should move).
"""
import statistics

# the op whose latency the end-to-end op metrics report (pipeline: a run)
PRIMARY = {"dashboard": "query", "index_churn": "probe"}
LAYERS = ["sources", "jobs", "operators", "spark", "bench"]
MB = 1024.0 * 1024.0
# Jobs-layer calls that plan their source on the driver before their first
# Spark job: IngestionJob.runWithOptions fetches its OAuth token, makes the
# A1 count probe and, while the first write is planned, OffresScan's
# count-probe planning. That prefix of the span is the sources layer's
# (the first write's Catalyst planning, also in it, is not separated).
SOURCE_PREFIX = {"IngestionJob.runWithOptions"}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    value at sorted index n-11, reported with its percentile and count.
    With 20 samples or fewer that percentile would not lie above the
    median, so the maximum stands in."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return float("nan"), 0, 0
    if n <= 20:
        return xs[-1], 100, n
    return xs[n - 11], int(100 * (n - 10) / n), n


def dur(o):
    return (o["end"] - o["start"]) / 1000.0


def union(intervals, lo=None, hi=None):
    """Total length (ms) of the union of [start, end] intervals, clipped."""
    iv = []
    for a, b in intervals:
        a = a if lo is None else max(a, lo)
        b = b if hi is None else min(b, hi)
        if b > a:
            iv.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(iv):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def runs(ops):
    """Pipeline: one 'run' is a cycle's ingest plus its curate."""
    by_cycle = {}
    for o in ops:
        by_cycle.setdefault(o["cycle"], []).append(o)
    return [{"secs": sum(dur(o) for o in os_),
             "items": sum(o["items"] for o in os_ if o["kind"] == "ingest")}
            for os_ in by_cycle.values()]


def cycle_times(ops):
    by_cycle = {}
    for o in ops:
        by_cycle[o["cycle"]] = by_cycle.get(o["cycle"], 0.0) + dur(o)
    return list(by_cycle.values())


def end_to_end(rep, launch_epoch_s, gen_s):
    """The end-to-end metrics, from the untraced cycles only."""
    w = rep["workload"]
    ops = [o for o in rep["ops"] if not o["traced"]]
    cycles = cycle_times(ops)
    boot_s = rep["boot_end_epoch_ms"] / 1000.0 - launch_epoch_s
    if w == "pipeline":
        prim = [r["secs"] for r in runs(ops)]
        items = sum(o["items"] for o in ops if o["kind"] == "ingest" and o["ok"])
    else:
        prim = [dur(o) for o in ops if o["kind"] == PRIMARY[w]]
        kind = "query" if w == "dashboard" else "append"
        items = sum(1 if w == "dashboard" else o["items"]
                    for o in ops if o["kind"] == kind and o["ok"])
    t, pct, n = tail(prim)
    m = {
        "setup_s": (gen_s + boot_s + (median(rep["setup_ms"]) + rep["warm_up_ms"]) / 1000.0, "s"),
        "wall_s": (sum(cycles) / len(cycles) if cycles else float("nan"), "s"),
        "peak_rss_mb": (rep["peak_rss_mb"], "MB"),
        "op_p50_s": (median(prim), "s"),
        "op_tail_s": (t, "s"),
        "items_per_s": (items / sum(cycles) if cycles else float("nan"), "1/s"),
    }
    info = {"op_tail_percentile": pct, "op_samples": n, "cycles": len(cycles),
            "boot_s": boot_s, "gen_s": gen_s, "setup_reps_s": [x / 1000.0 for x in rep["setup_ms"]],
            "warm_up_s": rep["warm_up_ms"] / 1000.0}
    return m, info


def by_kind(ops, kind):
    return [dur(o) for o in ops if o["kind"] == kind]


def workload_details(rep):
    """The workload's own op medians (untraced cycles)."""
    w = rep["workload"]
    ops = [o for o in rep["ops"] if not o["traced"]]
    d = {}
    if w == "pipeline":
        ing = [o for o in ops if o["kind"] == "ingest"]
        d["ingest_p50_s"] = median([dur(o) for o in ing])
        d["curate_p50_s"] = median(by_kind(ops, "curate"))
        d["offers_per_s"] = median([r["items"] / r["secs"] for r in runs(ops)])
    elif w == "dashboard":
        d["query_p50_s"] = median(by_kind(ops, "query"))
        d["query_tail_s"], d["query_tail_percentile"], d["query_samples"] = tail(by_kind(ops, "query"))
        d["query_p50_s_by_query"] = {
            q: median([dur(o) for o in ops if o["label"] == q])
            for q in sorted({o["label"] for o in ops})}
    else:
        d["append_p50_s"] = median(by_kind(ops, "append"))
        d["probe_p50_s"] = median(by_kind(ops, "probe"))
        d["probe_tail_s"], d["probe_tail_percentile"], d["probe_samples"] = tail(by_kind(ops, "probe"))
        d["tombstone_p50_s"] = median(by_kind(ops, "tombstone"))
        d["compact_p50_s"] = median(by_kind(ops, "compact"))
        d["compact_samples"] = len(by_kind(ops, "compact"))
    return d


class Trace:
    """Span tree, jobs tagged with spans, and query phase records."""

    def __init__(self, t):
        self.spans = {s["id"]: s for s in t["spans"]}
        self.jobs = t["jobs"]
        self.qes = t["qes"]
        self.children = {}
        for s in t["spans"]:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.own_jobs = {}
        for j in self.jobs:
            self.own_jobs.setdefault(j["span"], []).append(j)

    def subtree(self, sid):
        out, stack = [], [sid]
        while stack:
            x = stack.pop()
            out.append(x)
            stack.extend(self.children.get(x, []))
        return out

    def jobs_under(self, sid):
        return [j for x in self.subtree(sid) for j in self.own_jobs.get(x, [])]

    def self_ms(self, sid):
        s = self.spans[sid]
        kids = [(self.spans[c]["start"], self.spans[c]["end"]) for c in self.children.get(sid, [])]
        return (s["end"] - s["start"]) - union(kids, s["start"], s["end"])

    def spark_ms(self, sid):
        s = self.spans[sid]
        return union([(j["start"], j["end"]) for j in self.own_jobs.get(sid, [])], s["start"], s["end"])

    def prefix_ms(self, sid):
        """Time from the span's start to the start of its first job."""
        s = self.spans[sid]
        starts = [j["start"] for j in self.jobs_under(sid)]
        return max(0.0, min(starts) - s["start"]) if starts else 0.0

    def span_stats(self, sid):
        """Span length, its jobs, and the share of it no job covers."""
        s = self.spans[sid]
        jobs = self.jobs_under(sid)
        length = s["end"] - s["start"]
        covered = union([(j["start"], j["end"]) for j in jobs], s["start"], s["end"])
        return {
            "span_s": length / 1000.0,
            "spark_jobs": len(jobs),
            "driver_gap_share": 1.0 - covered / length if length > 0 else 0.0,
            "output_mb": sum(j["output_b"] for j in jobs) / MB,
            "shuffle_mb": sum(j["shuffle_b"] for j in jobs) / MB,
            "spill_mb": sum(j["spill_b"] for j in jobs) / MB,
            "task_ms": sum(j["task_ms"] for j in jobs),
        }


def med_stats(stats, keys):
    return {k: median([s[k] for s in stats]) for k in keys}


def per_layer(rep):
    """Per-layer metrics every workload reports, plus the workload's own
    layer details, from the traced cycles."""
    tr = Trace(rep["trace"])
    cores = rep["cores"]
    traced = [o for o in rep["ops"] if o["traced"]]
    untraced = [o for o in rep["ops"] if not o["traced"]]
    op_ids = {o["id"] for o in traced}
    n_cycles = max(1, len({o["cycle"] for o in traced}))
    op_ms = sum(o["end"] - o["start"] for o in traced)
    jobs = [j for j in tr.jobs if j["span"] in tr.spans and tr.spans[j["span"]]["op"] in op_ids]
    covered = sum(union([(j["start"], j["end"]) for j in jobs], o["start"], o["end"]) for o in traced)
    run_ms = sum(j["run_ms"] for j in jobs)
    m = {
        "spark.jobs": (len(jobs) / n_cycles, "count"),
        "spark.tasks": (sum(j["tasks"] for j in jobs) / n_cycles, "count"),
        "spark.failed_tasks": (sum(j["failed_tasks"] for j in jobs), "count"),
        "spark.core_busy_share": (sum(j["task_ms"] for j in jobs) / (cores * op_ms), "share"),
        "spark.driver_gap_share": (1.0 - covered / op_ms, "share"),
        "spark.gc_share": (sum(j["gc_ms"] for j in jobs) / run_ms if run_ms else 0.0, "share"),
        "spark.input_mb": (sum(j["input_b"] for j in jobs) / MB / n_cycles, "MB"),
        "spark.shuffle_mb": (sum(j["shuffle_b"] for j in jobs) / MB / n_cycles, "MB"),
        "spark.spill_mb": (sum(j["spill_b"] for j in jobs) / MB / n_cycles, "MB"),
        "spark.output_mb": (sum(j["output_b"] for j in jobs) / MB / n_cycles, "MB"),
    }
    for k, v in rep["kernels"].items():
        if k.endswith("_per_s"):
            m["functions." + k] = (v, "1/s")
    # self time per layer: a span's self time inside its own Spark jobs is
    # the spark layer's (this includes the page fetches, which run in the
    # scan's tasks), the rest its own layer's, less a SOURCE_PREFIX span's
    # driver-side planning prefix, which is the sources layer's; op time
    # under no span, and the stub API's start-up, is the harness's ("bench")
    share = {l: 0.0 for l in LAYERS}
    in_ops = [sid for sid, s in tr.spans.items() if s["op"] in op_ids]
    for sid in in_ops:
        spark_ms = tr.spark_ms(sid)
        own = max(0.0, tr.self_ms(sid) - spark_ms)
        pre = min(own, tr.prefix_ms(sid)) if tr.spans[sid]["name"] in SOURCE_PREFIX else 0.0
        share["spark"] += spark_ms
        share["sources"] += pre
        share[tr.spans[sid]["layer"]] += own - pre
    top = [(tr.spans[s]["start"], tr.spans[s]["end"]) for s in in_ops if tr.spans[s]["parent"] == -1]
    share["bench"] += op_ms - sum(union(top, o["start"], o["end"]) for o in traced)
    for l in LAYERS:
        m[f"layer.{l}.self_share"] = (share[l] / op_ms, "share")
    pairs = overhead_pairs(rep["ops"])
    m["trace.overhead_share"] = (median([t / u - 1.0 for u, t in pairs]), "share")
    d = layer_details(rep, tr, in_ops, traced)
    d["trace.cycle_pairs_s"] = pairs
    return m, d


def overhead_pairs(ops):
    """(untraced, traced) cycle times of each pair of neighbouring cycles
    (0-1, 2-3, ...); which member is traced alternates with the seed."""
    secs, traced = {}, {}
    for o in ops:
        secs[o["cycle"]] = secs.get(o["cycle"], 0.0) + dur(o)
        traced[o["cycle"]] = o["traced"]
    pairs = []
    for c in range(0, max(secs, default=-1), 2):
        if c + 1 in secs and traced[c] != traced[c + 1]:
            a, b = secs[c], secs[c + 1]
            pairs.append((b, a) if traced[c] else (a, b))
    return pairs


def layer_details(rep, tr, in_ops, traced):
    w = rep["workload"]
    det = rep["details"]
    d = {}
    by_name = {}
    for sid in in_ops:
        by_name.setdefault(tr.spans[sid]["name"], []).append(tr.span_stats(sid))
    if w == "pipeline":
        probes = det.get("sources_probes", [])
        scans = [sid for sid, s in tr.spans.items() if s["name"] == "OffresSource.scan"]
        skew = []
        for sid in scans:
            durs = [x for j in tr.jobs_under(sid) for x in j["task_durations"]]
            if durs and statistics.median(durs) > 0:
                skew.append(max(durs) / statistics.median(durs))
        d.update({
            "sources.plan_s": median([p["plan_ms"] / 1000.0 for p in probes]),
            "sources.plan_probes": median([p["plan_probes"] for p in probes]),
            "sources.pages": median([p["pages"] for p in probes]),
            "sources.scan_s": median([p["scan_ms"] / 1000.0 for p in probes]),
            "sources.scan_task_skew": median(skew),
        })
        d["sources.driver_prefix_s"] = median(
            [tr.prefix_ms(sid) / 1000.0 for sid in in_ops
             if tr.spans[sid]["name"] in SOURCE_PREFIX])
        ing = by_name.get("IngestionJob.runWithOptions", [])
        cur = by_name.get("CurationJob.run", [])
        for k, v in med_stats(ing, ["spark_jobs", "driver_gap_share", "output_mb"]).items():
            d["jobs.ingest." + k] = v
        for k, v in med_stats(cur, ["spark_jobs", "driver_gap_share", "shuffle_mb", "spill_mb"]).items():
            d["jobs.curate." + k] = v
        d["jobs.curate.core_busy_share"] = median(
            [s["task_ms"] / (rep["cores"] * s["span_s"] * 1000.0) for s in cur])
        d["jobs.curate.kept_ratio"] = det.get("kept_ratio")
    elif w == "dashboard":
        plan, exe, njobs = [], [], []
        for o in traced:
            qs = [q for q in tr.qes if o["start"] <= q["start"] <= o["end"]]
            plan.append(sum(q["plan_ms"] for q in qs) / 1000.0)
            exe.append(sum(q["exec_ms"] for q in qs) / 1000.0)
        for name, stats in by_name.items():
            njobs.extend(s["spark_jobs"] for s in stats)
        d["operators.relational.plan_s"] = median(plan)
        d["operators.relational.exec_s"] = median(exe)
        d["operators.relational.spark_jobs"] = median(njobs)
    else:
        for name in ["lsh_append", "ivf_append", "lsh_probe", "ivf_query",
                     "tombstone", "lsh_compact", "ivf_compact"]:
            for k, v in med_stats(by_name.get(name, []),
                                  ["span_s", "spark_jobs", "driver_gap_share"]).items():
                d[f"operators.{name}.{k}"] = v
        util = det.get("util", [])
        if util:
            d["util.live_files"] = median([u["live_files"] for u in util])
            d["util.bytes_per_live_row"] = median([u["live_bytes"] / u["live_rows"] for u in util])
            d["util.write_amplification"] = (sum(u["written_bytes"] for u in util)
                                             / sum(u["appended_bytes"] for u in util))
            d["util.gen_dirs"] = max(u["gen_dirs"] for u in util)
    return d
