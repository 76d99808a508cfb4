"""Per-layer metrics from one traced run's record (``result.json``).

Layers are the engine's modules: sources, functions, operators, plans,
llm, streaming. Each traced pass gives one value per metric; the run
reports the median over its traced passes. Probe values (single calls
made after the passes) and set-up figures are reported as measured.
"""
import statistics


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _covered_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _skew(stages):
    """max/median task time of the stage with the most task time."""
    busy = [s for s in stages if len(s["task_ms"]) >= 2 and s["run_ms"] > 0]
    if not busy:
        return 1.0
    s = max(busy, key=lambda s: s["run_ms"])
    med = statistics.median(s["task_ms"])
    return max(s["task_ms"]) / med if med > 0 else 1.0


LAYERS = ("sources", "functions", "operators", "plans", "llm", "streaming")
OPERATOR_MODULES = {"Windows": "windows_s", "Joins": "joins_s", "Aggs": "aggs_s",
                    "Analytics": "analytics_s", "Insights": "insights_s"}


def pass_metrics(res, p):
    """Every per-layer metric of one traced pass."""
    tr = res["trace"]
    group_of = dict(tr["stream_groups"])  # stream run id -> span id
    calls = [s for s in tr["spans"] if s["kind"] == "call" and s["pass"] == p["index"]]
    ids = {c["id"] for c in calls}
    jobs, stages, plans = {}, {}, {}
    for j in tr["jobs"]:
        g = group_of.get(j["group"], j["group"])
        if g in ids:
            jobs.setdefault(g, []).append((j["start_ms"], j["end_ms"]))
    for s in tr["stages"]:
        g = group_of.get(s["group"], s["group"])
        if g in ids:
            stages.setdefault(g, []).append(s)
    for q in tr["plans"]:
        g = group_of.get(q["group"], q["group"])
        if g in ids:
            plans.setdefault(g, []).append(q)

    m = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    for layer in LAYERS:
        for k in ("self_s", "call_s", "jobs", "tasks"):
            m[f"{layer}.{k}"] = 0.0
    m["sources.sink_s"] = 0.0
    for c in calls:
        g, layer = c["id"], c["layer"]
        covered = _covered_ms(jobs.get(g, []), c["start_ms"], c["end_ms"]) / 1e3
        add(f"{layer}.call_s", c["seconds"])
        add(f"{layer}.self_s", max(0.0, c["seconds"] - covered))
        add(f"{layer}.jobs", len(jobs.get(g, [])))
        add(f"{layer}.tasks", sum(s["tasks"] for s in stages.get(g, [])))
        name, module = c["name"], c["module"]
        if name.startswith("snk_"):
            add("sources.sink_s", c["seconds"])
        if layer == "operators" and module.split(".")[-1] in OPERATOR_MODULES:
            add("operators." + OPERATOR_MODULES[module.split(".")[-1]], c["seconds"])
        if name.startswith("stage:"):
            add(f"{layer}.stage.{name[6:]}_s", c["seconds"])
        if name.startswith("llm_"):
            add("llm.consumer_s", c["seconds"])

    all_stages = [s for ss in stages.values() for s in ss]
    llm_stages = [s for c in calls if c["layer"] == "llm" for s in stages.get(c["id"], [])]
    all_plans = [q for qs in plans.values() for q in qs]
    run_s = sum(s["run_ms"] for s in all_stages) / 1e3
    m["operators.task_s"] = run_s
    m["operators.cpu_share"] = (sum(s["cpu_ns"] for s in all_stages) / 1e9 / run_s) if run_s else 0.0
    m["operators.gc_s"] = sum(s["gc_ms"] for s in all_stages) / 1e3
    m["operators.shuffle_write_mb"] = sum(s["shuffle_bytes"] for s in all_stages) / 1e6
    m["operators.shuffle_records"] = float(sum(s["shuffle_records"] for s in all_stages))
    m["operators.spill_mb"] = sum(s["spill_bytes"] for s in all_stages) / 1e6
    m["operators.task_skew"] = _skew(all_stages)
    m["llm.shuffle_write_mb"] = sum(s["shuffle_bytes"] for s in llm_stages) / 1e6
    m["llm.task_skew"] = _skew(llm_stages)
    for k in ("exchanges", "broadcast_joins", "sortmerge_joins", "codegen_stages",
              "udf_nodes", "topk_rewrites", "kernel_rewrites"):
        m[f"plans.{k}"] = float(sum(q[k] for q in all_plans))
    m["plans.planning_s"] = sum(q["planning_s"] for q in all_plans)
    m["plans.build_s"] = sum(s["build_s"] for s in p["steps"])
    m["plans.self_s"] = m["plans.build_s"] + m["plans.planning_s"]
    m["sources.input_mb"] = sum(q["input_bytes"] for q in all_plans) / 1e6
    m["sources.input_rows"] = float(sum(q["input_rows"] for q in all_plans))
    m["sources.scan_s"] = sum(q["scan_s"] for q in all_plans)
    m["sources.output_mb"] = sum(q["output_bytes"] for q in all_plans) / 1e6
    m["trace.coverage"] = sum(c["seconds"] for c in calls) / p["wall_s"]
    st = p.get("stream")
    if st:
        b = st["batches"]
        m["streaming.batches"] = float(len(b))
        for k in ("add_batch", "planning", "commit", "offsets"):
            m[f"streaming.{k}_p50_s"] = median([x[f"{k}_s"] for x in b])
        m["streaming.state_rows_max"] = float(max([x["state_rows"] for x in b] or [0]))
        m["streaming.state_mem_mb"] = max([x["state_bytes"] for x in b] or [0]) / 1e6
    return m


def run_metrics(res):
    """Median of each per-layer metric over the traced passes, plus the
    probes, set-up layout time and the tracing overhead."""
    passes = [p for p in res["passes"] if not p["warmup"]]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    per_pass = [pass_metrics(res, p) for p in traced]
    keys = sorted({k for pm in per_pass for k in pm})
    out = {k: median([pm.get(k, 0.0) for pm in per_pass]) for k in keys}
    out["sources.layout_build_s"] = median([s["layout_s"] for s in res["setup"]])
    probes = res.get("probes", {})
    if "candidate_pairs" in probes:
        out["llm.dedup.candidate_pairs"] = float(probes["candidate_pairs"])
        out["llm.dedup.verified_pairs"] = float(probes["verified_pairs"])
        out["llm.dedup.pair_yield"] = (probes["verified_pairs"] / probes["candidate_pairs"]
                                       if probes["candidate_pairs"] else 0.0)
    ing = probes.get("ingest")
    if ing:
        for k in ("featurize_s", "index_s", "verdicts_s"):
            out[f"llm.ingest.{k}"] = ing[k]
        out["llm.ingest.fastpath_share"] = ing["fastpath"] / ing["docs"] if ing["docs"] else 0.0
        if res["workload"] == "stream_ingest":
            out["streaming.index_build_s"] = ing["index_s"]

    def wall(p):
        return p["stream"]["drain_s"] if p.get("stream") else p["wall_s"]
    base = median([wall(p) for p in untraced])
    out["trace.overhead"] = median([wall(p) for p in traced]) / base if base else 1.0
    return out
