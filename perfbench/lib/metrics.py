"""Turn the harness's raw records into the benchmark's metrics."""
from .stats import median, passes as agg_passes, tail


def _m(value, unit):
    return {"value": value, "unit": unit}


def _warm(res, traced):
    """The counted warm passes. The first pass after the cold one still
    compiles hot code, so it runs but is not counted."""
    return [p for p in res["passes"][2:] if p["traced"] == traced]


def end_to_end(res):
    """Metrics a user sees, from the untraced passes only, and the query
    latency tail with its percentile and sample count. The tail is not a
    metric: at the pass counts a run affords, fewer than 20 warm latencies
    leave no percentile above the median with ten samples beyond it."""
    ps = [res["passes"][0]] + _warm(res, False)
    walls = agg_passes([p["ops_s"] for p in ps])
    lat = [o["wall_s"] for p in ps[1:] for o in p["ops"]]
    p90, pct, n = tail(lat)
    return {
        "setup_s": _m(res["setup_s"], "s"),
        "cold_pass_s": _m(walls["cold"], "s"),
        "warm_pass_s": _m(walls["warm"], "s"),
        "query_p50_s": _m(median(lat), "s"),
    }, {"value": p90, "percentile": pct, "samples": n}


def op_table(res):
    """One line per query or phase: cold time and warm median, untraced."""
    ps = [res["passes"][0]] + _warm(res, False)
    lines = []
    for o in ps[0]["ops"]:
        warm = [x["wall_s"] for p in ps[1:] for x in p["ops"]
                if x["name"] == o["name"]]
        lines.append(f"{o['name']:16s} cold {o['wall_s']:8.3f} s  "
                     f"warm {median(warm):8.3f} s")
    return lines


def _sum(p, key, scale=1.0):
    return sum(o.get(key, 0) for o in p["ops"]) * scale


def _op(p, name):
    return next((o for o in p["ops"] if o["name"] == name), {})


def _layers(p, cpus):
    """Per-layer figures of one traced pass."""
    ex = _sum(p, "exec_s") if any("exec_s" in o for o in p["ops"]) \
        else _sum(p, "wall_s")
    task_run = _sum(p, "exec_task_run_ms", 1e-3)
    d = {
        "construct.s": _sum(p, "construct_s"),
        "construct.jobs": _sum(p, "construct_jobs"),
        "construct.task_s": _sum(p, "construct_task_run_ms", 1e-3),
        "memo.build_s": _sum(p, "memo_build_s"),
        "memo.builds": _sum(p, "memo_builds"),
        "memo.build_task_s": _sum(p, "memo_build_task_s"),
        "catalyst.s": _sum(p, "catalyst_s"),
        "catalyst.analysis_s": _sum(p, "analysis_s"),
        "catalyst.optimization_s": _sum(p, "optimization_s"),
        "catalyst.planning_s": _sum(p, "planning_s"),
        "exec.s": ex,
        "exec.jobs": _sum(p, "exec_jobs"),
        "exec.stages": _sum(p, "exec_stages"),
        "exec.tasks": _sum(p, "exec_tasks"),
        "exec.task_run_s": task_run,
        "exec.task_cpu_s": _sum(p, "exec_task_cpu_ns", 1e-9),
        "exec.gc_s": _sum(p, "exec_gc_ms", 1e-3),
        "exec.shuffle_read_mb": _sum(p, "exec_shuffle_read_b", 1e-6),
        "exec.shuffle_write_mb": _sum(p, "exec_shuffle_write_b", 1e-6),
        "exec.spill_mb": _sum(p, "exec_spill_b", 1e-6),
        "exec.busy_ratio": task_run / (ex * cpus) if ex else 0.0,
        "exec.failed_tasks": _sum(p, "exec_failed_tasks"),
        "session.checkpoint_mb": p.get("checkpoint_mb", 0.0),
        "pass.wall_s": p["ops_s"],
    }
    # ingest layers (zero on the gate workloads)
    conn = _op(p, "connector")
    d.update({
        "ingest.candidates_s": _sum(p, "candidates_s"),
        "ingest.inventory_s": _sum(p, "inventory_s"),
        "sink.rows": sum(o.get("written", 0) for o in p["ops"]
                         if o["name"] != "connector"),
        "sink.files": sum(o.get("sink_files", 0) for o in p["ops"]
                          if o["name"] != "connector"),
        "sink.mb": sum(o.get("sink_mb", 0) for o in p["ops"]
                       if o["name"] != "connector"),
        "sources.s": conn.get("wall_s", 0.0),
        "sources.pages_opened": conn.get("pages_opened", 0),
    })
    return d


def per_layer(res, expect):
    """Per-layer metrics of a traced run, and the per-query detail.

    Memo figures come from the cold pass, where builds happen; the rest
    are medians over the traced warm passes. The tracing overhead is the
    traced minus the untraced warm pass time of the same run."""
    cpus = res["cpus"]
    cold = res["passes"][0]
    traced = _warm(res, True)
    plain = _warm(res, False)
    per_pass = [_layers(p, cpus) for p in traced]

    def wm(k):
        return median([d[k] for d in per_pass])

    c = _layers(cold, cpus)
    units = {"s": "s", "mb": "MB", "ratio": "ratio"}
    out = {"session.start_s": _m(res["session_start_s"], "s"),
           "session.register_s": _m(res["register_s"], "s")}
    for k in per_pass[0]:
        if k == "pass.wall_s":
            continue
        unit = units.get(k.replace(".", "_").split("_")[-1], "count")
        v = c[k] if k.startswith("memo.") else wm(k)
        out[k] = _m(v, unit)
    out["memo.cached_mb"] = _m(cold.get("cached_mb", 0.0), "MB")
    # parse probe and ingest ratios
    parse_s = median([p.get("parse_s", 0.0) for p in traced])
    links = traced[0].get("parse_links", 0)
    out["parse.s"] = _m(parse_s, "s")
    out["parse.links_per_s"] = _m(links / parse_s if parse_s else 0.0, "1/s")
    cand = median([_op(p, "empty").get("candidates", 0) for p in traced])
    out["ingest.kept_ratio"] = _m(cand / links if links else 0.0, "ratio")
    gen_pages = expect.get("pages_generated", 0)
    out["sources.pages_opened_ratio"] = _m(
        out["sources.pages_opened"]["value"] / gen_pages
        if gen_pages else 0.0, "ratio")
    # user-facing ingest figures, from the untraced warm passes
    empties = [_op(p, "empty") for p in plain]
    out["ingest.docs_per_s"] = _m(median(
        [o["written"] / o["wall_s"] for o in empties if o.get("wall_s")])
        if any(o.get("written") for o in empties) else 0.0, "1/s")
    out["ingest.rerun_s"] = _m(median(
        [_op(p, "rerun").get("wall_s", 0.0) for p in plain]), "s")
    out["ingest.delta_s"] = _m(median(
        [_op(p, "delta").get("wall_s", 0.0) for p in plain]), "s")
    out["tracing.overhead_s"] = _m(
        wm("pass.wall_s") - median([p["ops_s"] for p in plain]), "s")
    detail = {
        "workload": res["workload"],
        "cold": c,
        "warm_traced": per_pass,
        "queries": {},
    }
    for p in [cold] + traced:
        for o in p["ops"]:
            detail["queries"].setdefault(o["name"], []).append(
                {"pass": p["idx"], **{k: v for k, v in o.items()
                                      if k != "name"}})
    return out, detail


def detail_table(detail):
    """One line per query/phase: cold and warm-traced layer split."""
    lines = [f"{'op':10s} {'pass':>4s} {'wall':>7s} {'constr':>7s} "
             f"{'catal':>7s} {'exec':>7s} {'jobs':>5s} {'memo':>6s}"]
    for name, rows in detail["queries"].items():
        for r in rows:
            lines.append(
                f"{name:10s} {r['pass']:4d} {r.get('wall_s', 0):7.3f} "
                f"{r.get('construct_s', 0):7.3f} "
                f"{r.get('catalyst_s', 0):7.3f} "
                f"{r.get('exec_s', r.get('wall_s', 0)):7.3f} "
                f"{r.get('construct_jobs', 0) + r.get('exec_jobs', 0):5d} "
                f"{r.get('memo_build_s', 0):6.3f}")
    return lines
