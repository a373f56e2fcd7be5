"""Metrics from the harness's raw samples, spans and listener events.

Pure functions over the JSON the JVM harness writes; run.py calls derive()
and result(). The catalog below is the benchmark's metric contract and must
match BENCHMARK.json (test_perfbench.py checks both ways).
"""
import bisect
import math
import statistics

# the reference's Gold refresh (the Gold1.py loop body)
REFRESH_OPS = ["silver_clean_customer", "silver_clean_transactions",
               "windowed_events", "gold_enriched", "gold_enriched_onepass",
               "gold_incremental", "gold_feature_summary",
               "gold_support_sentiment", "ml_churn_scores"]
# one op of each LLM-data family: DedupOps, SimilarityOps, TextOps
LLM_OPS = ["ext_dedup_minhash", "ext_ann_topk", "ext_text_bm25"]
GOLD_OPS = REFRESH_OPS + LLM_OPS

END_TO_END = [
    ("setup_s", "s"), ("pass_s", "s"), ("op_geomean_ms", "ms"),
    ("cpu_s", "s"), ("live_heap_mb", "MB"),
]

LAYERS = ["client", "entry", "driver", "catalyst", "spark", "txtable",
          "sources", "stream"]

PER_LAYER = [
    ("setup.cold_s", "s"), ("entry.build_ms", "ms"), ("entry.stage_s", "s"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.driver_gap_ms", "ms"), ("spark.task_run_ms", "ms"),
    ("spark.task_deser_ms", "ms"), ("spark.task_gc_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.input_bytes", "bytes"), ("spark.stage_skew", "ratio"),
    ("spark.busy_ratio", "ratio"), ("spark.parallel_speedup", "ratio"),
    ("stream.trigger_ms", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.get_batch_ms", "ms"), ("stream.latest_offset_ms", "ms"),
    ("stream.query_planning_ms", "ms"), ("stream.wal_commit_ms", "ms"),
    ("stream.state_rows", "count"), ("stream.state_bytes", "bytes"),
    ("stream.state_commit_ms", "ms"), ("stream.rows_per_epoch", "count"),
    ("txtable.snapshot_ms", "ms"), ("txtable.versions", "count"),
    ("txtable.live_files", "count"), ("txtable.log_bytes", "bytes"),
    ("txtable.bytes_per_row", "bytes"), ("txtable.changes_ms", "ms"),
    ("txtable.maint_ms", "ms"), ("cdc.update_share", "ratio"),
    ("catalog.read_build_ms", "ms"), ("scan.files_read", "count"),
    ("scan.files_read_ratio", "ratio"),
    ("cdc.epoch_p50_ms", "ms"), ("cdc.epoch_tail_ms", "ms"),
    ("cdc.epoch_tail_pct", "%"), ("cdc.epoch_tail_samples", "count"),
    ("cdc.ingest_rows_per_s", "1/s"), ("cdc.fresh_read_p50_ms", "ms"),
    ("cdc.catalog_read_p50_ms", "ms"), ("cdc.history_read_p50_ms", "ms"),
    ("cdc.maint_p50_ms", "ms"),
    ("jvm.gc_ms", "ms"), ("jvm.pass_drift", "ratio"),
    ("jvm.persisted_rdds", "count"), ("host.load1", "load"),
    ("host.steal_pct", "%"), ("trace.overhead_ratio", "ratio"),
] + [(f"self.{layer}_ms", "ms") for layer in LAYERS]


def per_layer_catalog():
    return PER_LAYER + [(f"query.{op}.ms", "ms") for op in GOLD_OPS]


# ---- statistics -----------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _rank(pct, n):
    """1-based nearest rank of the pct-th percentile of n samples."""
    return max(1, math.ceil(pct * n / 100.0 - 1e-9))


TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(xs, min_beyond=10, candidates=TAIL_PERCENTILES):
    """The highest candidate percentile with at least `min_beyond` samples
    above its nearest rank, as (percentile, value, samples); None when even
    the lowest candidate has fewer than `min_beyond` samples beyond it."""
    n = len(xs)
    for pct in candidates:
        k = _rank(pct, n)
        if n - k >= min_beyond:
            return pct, sorted(xs)[k - 1], n
    return None


# ---- spans ----------------------------------------------------------------

def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
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


def self_times(nodes):
    """Self time of each span: its length minus the union of its children's
    intervals clipped to it. nodes: dicts with id, parent, start_ns, end_ns."""
    by_id = {n["id"]: n for n in nodes}
    kids = {}
    for n in nodes:
        if n["parent"] in by_id:
            kids.setdefault(n["parent"], []).append(n)
    out = {}
    for n in nodes:
        s, e = n["start_ns"], n["end_ns"]
        clipped = [(max(s, c["start_ns"]), min(e, c["end_ns"])) for c in kids.get(n["id"], [])]
        out[n["id"]] = max(0, (e - s) - union_length(clipped))
    return out


TOLERANCE_NS = 2_000_000  # listener times are whole milliseconds


def place(spans, derived):
    """Hang listener-derived spans under the harness spans by time.

    A derived span goes under the innermost span of its op that contains it
    (within TOLERANCE_NS); its op is the root span containing its midpoint,
    or the root named by its job group. Derived spans outside every root
    (untimed work) are dropped. Returns the combined node list."""
    nodes = [dict(s) for s in spans]
    roots = sorted((n for n in nodes if n["parent"] == 0), key=lambda n: n["start_ns"])
    starts = [r["start_ns"] for r in roots]
    root_by_id = {r["id"]: r for r in roots}
    members = {r["id"]: [] for r in roots}
    for n in nodes:
        if n["op"] in members:
            members[n["op"]].append(n)
    next_id = max([n["id"] for n in nodes], default=0) + 1
    for d in sorted(derived, key=lambda d: d["start_ns"] - d["end_ns"]):
        root = root_by_id.get(d.get("op_hint"))
        if root is None:
            mid = (d["start_ns"] + d["end_ns"]) // 2
            i = bisect.bisect_right(starts, mid) - 1
            if i < 0 or mid > roots[i]["end_ns"]:
                continue
            root = roots[i]
        dur = d["end_ns"] - d["start_ns"]
        cands = [m for m in members[root["id"]]
                 if m["start_ns"] - TOLERANCE_NS <= d["start_ns"]
                 and d["end_ns"] <= m["end_ns"] + TOLERANCE_NS
                 and m["end_ns"] - m["start_ns"] >= dur]
        parent = min(cands, key=lambda m: m["end_ns"] - m["start_ns"]) if cands else root
        node = dict(d, id=next_id, parent=parent["id"], op=root["id"])
        node.pop("op_hint", None)
        next_id += 1
        nodes.append(node)
        members[root["id"]].append(node)
    return nodes


def derived_spans(trace):
    """Listener events as spans: Spark jobs, Catalyst phases, stream triggers."""
    out = []
    jobs = {}
    for j in trace["jobs"]:
        jobs.setdefault(j["id"], {}).update(j)
    for j in jobs.values():
        if "start_ns" in j and "end_ns" in j:
            g = j.get("group", "")
            out.append({"layer": "spark", "name": "job", "start_ns": j["start_ns"],
                        "end_ns": j["end_ns"], "stages": j.get("stages", 0),
                        "op_hint": int(g) if g.isdigit() else None})
    for q in trace["queries"]:
        for phase in ("analysis", "optimization", "planning"):
            p = q.get(phase) or {}
            if "start_ns" in p:
                out.append({"layer": "catalyst", "name": phase,
                            "start_ns": p["start_ns"], "end_ns": p["end_ns"]})
    for p in trace["progress"]:
        dur = p["durations"].get("triggerExecution", 0) * 1_000_000
        out.append({"layer": "stream", "name": "trigger", "start_ns": p["start_ns"],
                    "end_ns": p["start_ns"] + dur, "progress": p})
    return out


def root_of(roots, starts, t):
    i = bisect.bisect_right(starts, t) - 1
    if i >= 0 and t <= roots[i]["end_ns"] + TOLERANCE_NS:
        return roots[i]
    return None


# ---- host ----------------------------------------------------------------

def host_sample():
    """(load1, steal jiffies, total jiffies) from /proc; zeros elsewhere."""
    try:
        load1 = float(open("/proc/loadavg").read().split()[0])
        cpu = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return load1, (cpu[7] if len(cpu) > 7 else 0), sum(cpu)
    except (OSError, ValueError, IndexError):
        return 0.0, 0, 0


def host_metrics(before, after):
    d_total = after[2] - before[2]
    steal = 100.0 * (after[1] - before[1]) / d_total if d_total > 0 else 0.0
    return {"host.load1": after[0], "host.steal_pct": steal}


# ---- derivation ------------------------------------------------------------

def _samples(passes):
    return [o for p in passes for o in p["ops"]]


def _op_medians(samples):
    by = {}
    for name, ms, ok, *_ in samples:
        if ok:
            by.setdefault(name, []).append(ms)
    return {k: median(v) for k, v in by.items()}


def _ms_of(samples, names):
    return [s[1] for s in samples if s[0] in names and s[2]]


def drift(passes, setups):
    """Last timed pass over the first. A run with one timed pass compares
    its last set-up with its second instead: the same warm calls, each in a
    fresh session, in a JVM that is already warm."""
    if len(passes) >= 2:
        return passes[-1]["wall_s"] / passes[0]["wall_s"]
    return setups[-1] / setups[1] if len(setups) >= 3 else 1.0


def cdc_metrics(samples):
    epochs = [s for s in samples if s[0] == "epoch" and s[2]]
    ep_ms = [s[1] for s in epochs]
    rows = sum(s[4] for s in epochs)
    t = tail(ep_ms)
    return {
        "cdc.epoch_p50_ms": median(ep_ms),
        "cdc.epoch_tail_ms": t[1] if t else 0.0,
        "cdc.epoch_tail_pct": t[0] if t else 0.0,
        "cdc.epoch_tail_samples": t[2] if t else len(ep_ms),
        "cdc.ingest_rows_per_s": rows / (sum(ep_ms) / 1000.0) if ep_ms else 0.0,
        "cdc.fresh_read_p50_ms": median(_ms_of(samples, {"head_read"})),
        "cdc.catalog_read_p50_ms": median(_ms_of(samples, {"catalog_read"})),
        "cdc.history_read_p50_ms": median(_ms_of(samples, {"changes", "time_travel"})),
        "cdc.maint_p50_ms": median(_ms_of(samples, {"retention_delete", "fold"})),
    }


def end_to_end(raw, passes):
    samples = _samples(passes)
    return {
        "setup_s": median(raw["setup_s"]),
        "pass_s": median([p["wall_s"] for p in passes]),
        "op_geomean_ms": geomean(list(_op_medians(samples).values())),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "live_heap_mb": raw["live_heap_mb"],
    }


def layer_metrics(raw, trace, untraced, traced, local1, check):
    """Per-layer metrics of a traced run (see README.md for the map)."""
    n_passes = max(1, len(traced))
    traced_wall_ms = sum(p["wall_s"] for p in traced) * 1000.0
    nodes = place(trace["spans"], derived_spans(trace))
    selfs = self_times(nodes)
    roots = sorted((n for n in nodes if n["parent"] == 0), key=lambda n: n["start_ns"])
    starts = [r["start_ns"] for r in roots]

    def spans_named(layer, names):
        return [(n["end_ns"] - n["start_ns"]) / 1e6 for n in nodes
                if n["layer"] == layer and n["name"] in names]

    m = {}
    m["entry.build_ms"] = sum(spans_named("entry", {"build"})) / n_passes
    m["setup.cold_s"] = raw["setup_s"][0]
    m["entry.stage_s"] = median(raw["stage_s"])
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = sum(spans_named("catalyst", {phase})) / n_passes

    jobs = [n for n in nodes if n["layer"] == "spark" and n["name"] == "job"]
    stages = [s for s in trace["stages"] if root_of(roots, starts, s["end_ns"])]
    m["spark.jobs"] = len(jobs) / n_passes
    m["spark.stages"] = len(stages) / n_passes
    m["spark.tasks"] = sum(s["tasks"] for s in stages) / n_passes
    gap = 0
    for r in roots:
        inside = [(max(r["start_ns"], j["start_ns"]), min(r["end_ns"], j["end_ns"]))
                  for j in jobs if j["op"] == r["id"]]
        gap += (r["end_ns"] - r["start_ns"]) - union_length(inside)
    m["spark.driver_gap_ms"] = gap / 1e6 / n_passes
    for key, src in (("task_run_ms", "run_ms"), ("task_deser_ms", "deser_ms"),
                     ("task_gc_ms", "gc_ms"), ("shuffle_write_bytes", "shuffle_write_bytes"),
                     ("shuffle_read_bytes", "shuffle_read_bytes"),
                     ("input_bytes", "input_bytes")):
        m[f"spark.{key}"] = sum(s[src] for s in stages) / n_passes
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0]
    m["spark.stage_skew"] = median(skews)
    run_ms = sum(s["run_ms"] for s in stages)
    m["spark.busy_ratio"] = run_ms / (traced_wall_ms * raw["cores"]) if traced_wall_ms else 0.0
    base = median([p["wall_s"] for p in untraced])
    m["spark.parallel_speedup"] = median([p["wall_s"] for p in local1]) / base if base else 0.0

    prog = [n["progress"] for n in nodes if n["layer"] == "stream" and n["name"] == "trigger"]

    def pmed(key):
        return median([p["durations"].get(key, 0) for p in prog])
    for name, key in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                      ("get_batch_ms", "getBatch"), ("latest_offset_ms", "latestOffset"),
                      ("query_planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit")):
        m[f"stream.{name}"] = pmed(key)
    m["stream.state_rows"] = max([p["state_rows"] for p in prog], default=0)
    m["stream.state_bytes"] = max([p["state_bytes"] for p in prog], default=0)
    m["stream.state_commit_ms"] = median([p["state_commit_ms"] for p in prog])
    m["stream.rows_per_epoch"] = median([p["rows"] for p in prog if p["rows"] > 0])

    wd = raw.get("workload_data") or {}
    m["txtable.snapshot_ms"] = median(spans_named("txtable", {"snapshot"}))
    m["txtable.versions"] = wd.get("versions", 0)
    m["txtable.live_files"] = wd.get("live_files", 0)
    m["txtable.log_bytes"] = wd.get("log_bytes", 0)
    rows = wd.get("live_rows", 0)
    m["txtable.bytes_per_row"] = wd.get("table_bytes", 0) / rows if rows else 0.0
    m["txtable.changes_ms"] = median(spans_named("txtable", {"changes_since"}))
    m["txtable.maint_ms"] = median(spans_named("txtable", {"delete_where_mor", "fold_eq_deletes"}))
    m["cdc.update_share"] = check.get("update_share", 0.0)
    m["catalog.read_build_ms"] = median(spans_named("sources", {"catalog_build"}))
    scans = [(f, live) for f, live in wd.get("scans", []) if live > 0]
    m["scan.files_read"] = statistics.fmean([f for f, _ in scans]) if scans else 0.0
    m["scan.files_read_ratio"] = statistics.fmean([f / live for f, live in scans]) if scans else 0.0
    m.update(cdc_metrics(_samples(untraced)))

    every = untraced + traced
    m["jvm.gc_ms"] = median([p["gc_ms"] for p in every])
    m["jvm.pass_drift"] = drift(every, raw["setup_s"])
    m["jvm.persisted_rdds"] = max([s[3] for s in _samples(every)], default=0)
    m["trace.overhead_ratio"] = median([p["wall_s"] for p in traced]) / base if base else 0.0
    per_layer_self = dict.fromkeys(LAYERS, 0)
    for n in nodes:
        if n["layer"] in per_layer_self:
            per_layer_self[n["layer"]] += selfs[n["id"]]
    for layer, ns in per_layer_self.items():
        m[f"self.{layer}_ms"] = ns / 1e6 / n_passes
    spans = [dict((k, v) for k, v in n.items() if k != "progress") | {"self_ns": selfs[n["id"]]}
             for n in nodes]
    return m, spans


def derive(raw, check, host):
    """All metrics and the pass/fail accounting of one run. A traced run's
    end-to-end figures come from its untraced half."""
    traced = "trace" in raw
    passes = raw.get("untraced_passes", []) + raw["passes"]
    timed = raw["untraced_passes"] if traced else raw["passes"]
    samples = _samples(passes + raw.get("local1_passes", []))
    failures = [f"{s[0]} failed in a timed pass" for s in samples if not s[2]]
    failures += check["failures"]
    attempted = len(samples) + check["checked"]
    report = {
        "fail_ratio": len(failures) / attempted,
        "passes": len(passes),
        "op_median_ms": {k: round(v, 3) for k, v in _op_medians(_samples(timed)).items()},
        "setups_s": [round(x, 3) for x in raw["setup_s"]],
        "stages_s": [round(x, 3) for x in raw["stage_s"]],
        "phases_s": {k: round(v, 3) for k, v in raw.get("phases_s", {}).items()},
        "jvm.pass_drift": drift(passes, raw["setup_s"]),
        "jvm.persisted_rdds": max([s[3] for s in samples], default=0),
        **host,
    }
    if raw["workload"] == "txtable_cdc":
        report.update(cdc_metrics(_samples(timed)))
        report["cdc.update_share"] = check.get("update_share", 0.0)
        report["txtable"] = raw.get("workload_data")
    out = {"e2e": end_to_end(raw, timed), "report": report, "failures": failures,
           "attempted": attempted, "failed": len(failures), "workload": raw["workload"]}
    if traced:
        layers, spans = layer_metrics(raw, raw["trace"], raw["untraced_passes"],
                                      raw["passes"], raw.get("local1_passes", []), check)
        medians = _op_medians(_samples(timed))
        for op in GOLD_OPS:
            layers[f"query.{op}.ms"] = medians.get(op, 0.0)
        out.update(layers=layers | host, spans=spans)
    return out


def result(d, trace):
    """The last stdout line: {correct, attempted, failed, metrics}."""
    catalog, values = (per_layer_catalog(), d["layers"]) if trace else (END_TO_END, d["e2e"])
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in catalog}
    return {"correct": d["failed"] == 0, "attempted": d["attempted"],
            "failed": d["failed"], "metrics": metrics}
