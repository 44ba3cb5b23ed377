"""Pure functions that turn the harness's records into benchmark metrics.

The harness (src/main/scala/perfbench) writes JSON lines; nothing here
touches Spark, so every rule below is unit-tested in tests/.
"""
import statistics

MODULES = ["DedupOps", "TextOps", "MLOps", "Aggregates", "Relational",
           "SimilarityOps", "GraphOps", "MultimodalOps", "StreamingOps"]
MODULE_FIELDS = ["build_s", "build_jobs", "plan_ms", "exec_s", "driver_s", "jobs",
                 "tasks", "task_busy_s", "shuffle_write_bytes", "spill_bytes", "fail"]
OTHER_LAYERS = ["Tables.load_jobs", "Tables.load_s", "Tables.input_bytes",
                "Tables.input_rows", "sink.write_s", "sink.rows", "collect.rows",
                "engine.busy_ratio", "engine.gc_s", "engine.peak_exec_mem_bytes",
                "engine.cached_bytes", "engine.cached_growth_bytes",
                "engine.driver_heap_bytes", "engine.peak_rss_mb", "trace.overhead_s",
                "trace.unattributed_s", "run.fail_ratio"]
# The DAG's two driver-side loops; their build jobs are the loop rounds.
LOOP_QUERIES = ["pipeline_dedup_corpus", "lda_em_topics"]
LAYER_METRICS = ([f"{m}.{f}" for m in MODULES for f in MODULE_FIELDS]
                 + [f"{q}.build_jobs" for q in LOOP_QUERIES] + OTHER_LAYERS)
END_TO_END = ["setup_s", "pass_s", "lat_p50_s", "lat_p90_s", "queries_per_s"]


def unit_of(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf == "queries_per_s":
        return "1/s"
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("ratio"):
        return "ratio"
    return "count"


def module_of(name, modules):
    """The module whose `queries` map defines `name`. `modules` is a list of
    (module, names) in the engine's merge order, where a later map wins."""
    owner = None
    for module, names in modules:
        if name in names:
            owner = module
    return owner


def profile_percentiles(calls):
    """p50 and p90 of a workload's latency profile: each query's median
    latency over the timed calls, then the percentiles across queries.

    A run times one pass, so a percentile of raw samples would rest on one
    or two samples beyond it; each profile point is a median over the run's
    passes instead, and the p90 is the latency of the slowest decile of the
    workload's queries."""
    by_name = {}
    for c in calls:
        by_name.setdefault(c["name"], []).append(c["wall_s"])
    medians = sorted(statistics.median(v) for v in by_name.values())
    if len(medians) < 2:
        raise ValueError("need at least two distinct queries for a profile")
    deciles = statistics.quantiles(medians, n=10, method="inclusive")
    return statistics.median(medians), deciles[8]


def self_times(spans):
    """Span id -> its duration minus the part of its interval that its
    children cover (overlapping children count once), in seconds."""
    kids = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, reach = 0, lo
        for k in sorted(kids.get(s["id"], []), key=lambda k: k["start_ms"]):
            a, b = max(k["start_ms"], reach), min(k["end_ms"], hi)
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (hi - lo - covered) / 1000.0
    return out


def full_plan_ok(plan_span):
    """The executed plan kept every join and global sort of the full plan.
    A plan span without the expectation is not checked."""
    if "full_joins" not in plan_span:
        return True
    return (plan_span.get("joins", -1) >= plan_span["full_joins"]
            and plan_span.get("sorts", -1) >= plan_span["full_sorts"])


def phases_cover_wall(spans, walls, tolerance_s):
    """Calls whose build + plan + execute spans (wall clock, ms) do not sum
    to the call's own timer reading `walls[id]` (monotonic, s) within
    `tolerance_s`. Calls missing from `walls` are not checked. Returns the
    ids of the others."""
    total = {}
    for s in spans:
        if s["kind"] in ("build", "plan", "execute"):
            total[s["parent"]] = (total.get(s["parent"], 0.0)
                                  + (s["end_ms"] - s["start_ms"]) / 1000.0)
    return [s["id"] for s in spans if s["kind"] == "call" and s["id"] in walls
            and abs(total.get(s["id"], 0.0) - walls[s["id"]]) > tolerance_s]


def end_to_end(run, calls, passes):
    timed = [p for p in passes if p["kind"] == "timed"]
    timed_ids = {p["pass"] for p in timed}
    tcalls = [c for c in calls if c["pass"] in timed_ids]
    p50, p90 = profile_percentiles(tcalls)
    busy = sum(p["wall_s"] for p in timed)
    return {
        "setup_s": (run["setup_end_ms"] - run["t0_ms"]) / 1000.0,
        "pass_s": statistics.median(p["wall_s"] for p in timed),
        "lat_p50_s": p50,
        "lat_p90_s": p90,
        "queries_per_s": len(tcalls) / busy,
    }


def layers(run, calls, passes, spans, stages, engine):
    """Per-layer metrics of the traced passes: each is summed over one pass
    (a DAG pass or one round of the mix), then the median over passes."""
    traced = [p for p in passes if p["kind"] == "traced"]
    untraced = [p for p in passes if p["kind"] == "timed"]
    names = {c["span"]: c["name"] for c in calls}
    modules = [(m, set(v)) for m, v in run["modules"].items()]
    by_id = {s["id"]: s for s in spans}
    self_s = self_times(spans)
    stage_of = {s["stage"]: s for s in stages}
    jobs = [s for s in spans if s["kind"] == "job"]
    seen_stage = set()
    job_stages = {}
    for j in sorted(jobs, key=lambda j: int(j["id"][1:])):
        mine = [i for i in j["stages"] if i in stage_of and i not in seen_stage]
        seen_stage.update(mine)
        job_stages[j["id"]] = [stage_of[i] for i in mine]

    def call_of(span_id):          # "p3.c41.build" -> "p3.c41"
        return span_id.rsplit(".", 1)[0] if span_id else None

    per_pass = []
    for p in traced:
        pid = f"p{p['pass']}"
        acc = {k: 0.0 for k in LAYER_METRICS}
        pcalls = [s for s in spans if s["kind"] == "call" and s["parent"] == pid]
        for c in pcalls:
            m = module_of(names[c["id"]], modules)
            b, pl, x = (by_id[f"{c['id']}.{k}"] for k in ("build", "plan", "execute"))
            acc[f"{m}.build_s"] += (b["end_ms"] - b["start_ms"]) / 1000.0
            acc[f"{m}.plan_ms"] += pl["end_ms"] - pl["start_ms"]
            acc[f"{m}.exec_s"] += (x["end_ms"] - x["start_ms"]) / 1000.0
            acc[f"{m}.driver_s"] += self_s[b["id"]] + self_s[x["id"]]
            acc["trace.unattributed_s"] += self_s[c["id"]]
            if run["sink"]:
                acc["sink.write_s"] += (x["end_ms"] - pl["start_ms"]) / 1000.0
        for c in calls:
            if c["pass"] == p["pass"]:
                m = module_of(c["name"], modules)
                acc[f"{m}.fail"] += 1 if (c["error"] or c["mismatch"]) else 0
                if not run["sink"]:
                    acc["collect.rows"] += max(c["rows"], 0)
        busy_ms = 0.0
        for j in jobs:
            cid = call_of(j["parent"])
            if cid not in names or by_id[cid]["parent"] != pid:
                continue
            m = module_of(names[cid], modules)
            phase = j["parent"].rsplit(".", 1)[1]
            acc[f"{m}.build_jobs" if phase == "build" else f"{m}.jobs"] += 1
            if phase == "build" and names[cid] in LOOP_QUERIES:
                acc[f"{names[cid]}.build_jobs"] += 1
            sts = job_stages[j["id"]]
            load = any("Tables.scala" in s["name"] for s in sts)
            if load:
                acc["Tables.load_jobs"] += 1
                acc["Tables.load_s"] += (j["end_ms"] - j["start_ms"]) / 1000.0
            for s in sts:
                acc[f"{m}.tasks"] += s["tasks"]
                acc[f"{m}.task_busy_s"] += s["run_ms"] / 1000.0
                acc[f"{m}.shuffle_write_bytes"] += s["shuffle_write_bytes"]
                acc[f"{m}.spill_bytes"] += s["spill_bytes"]
                acc["Tables.input_bytes"] += s["input_bytes"]
                acc["Tables.input_rows"] += s["input_rows"]
                if phase == "execute" and run["sink"]:
                    acc["sink.rows"] += s["output_rows"]
                busy_ms += s["run_ms"]
        acc["engine.busy_ratio"] = busy_ms / 1000.0 / (p["wall_s"] * run["cores"])
        acc["engine.gc_s"] = p["gc_ms"] / 1000.0
        acc["engine.cached_bytes"] = p["cached_bytes"]
        acc["engine.driver_heap_bytes"] = p["heap_bytes"]
        per_pass.append(acc)
    out = {k: statistics.median(a[k] for a in per_pass) for k in LAYER_METRICS}
    out["engine.peak_exec_mem_bytes"] = engine["peak_exec_mem_bytes"]
    out["engine.peak_rss_mb"] = run["peak_rss_kb"] / 1024.0
    all_timed = [p for p in passes if p["kind"] != "warm"]
    out["engine.cached_growth_bytes"] = (all_timed[-1]["cached_bytes"]
                                         - passes[0]["cached_bytes"])
    out["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                               - statistics.median(p["wall_s"] for p in untraced))
    return out
