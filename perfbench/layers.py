"""Per-layer metrics of a traced run.

The span tree is query -> entry.build -> action -> stage, with the
`QueryPlanningTracker` phases as children of the build or the action they
ran in, and query -> entry.build -> micro-batch -> stage for the stream
rigs, whose batches run inside the registry call. The harness records the
query, build and action spans; the listener records give the rest, and
each belongs to the query whose wall window holds its midpoint (the
client is closed-loop, so windows never overlap). Values are per traced
pass unless the name says otherwise.
"""
from statistics import median

from stats import covered, owner, self_time

PLAN_PHASES = ("analysis", "optimization", "planning")


def _span(r):
    return r["start_ms"], r["end_ms"]


def _mid(r):
    return (r["start_ms"] + r["end_ms"]) / 2


def layer_metrics(run, cores):
    tr = run["trace"]
    execs = sorted(run["execs"], key=lambda e: e["start_ms"])
    windows = [(e["start_ms"], e["start_ms"] + 1e3 * (e["build_s"] + e["action_s"]))
               for e in execs]
    built = [e["start_ms"] + 1e3 * e["build_s"] for e in execs]
    walls = {}
    for p in run["passes"]:
        walls.setdefault(p["phase"], []).append((p["end_ms"] - p["start_ms"]) / 1e3)
    traced = {p["pass"] for p in run["passes"] if p["phase"] == "traced"}
    n = len(traced)

    def placed(records, passes=traced):
        """(record, exec index) for the records that fall in `passes`."""
        out = []
        for r in records:
            i = owner(windows, _mid(r))
            if i is not None and execs[i]["pass"] in passes:
                out.append((r, i))
        return out

    phase_spans = [dict(p, name=name) for a in tr["actions"]
                   for name, p in a["phases"].items() if name in PLAN_PHASES]
    actions = placed(tr["actions"])
    stages = placed(tr["stages"])
    batches = placed(tr["batches"])
    phases = placed(phase_spans)
    jobs = placed([{"start_ms": t, "end_ms": t} for t in tr["jobs"]])

    # children of each build and action span; a stage inside a micro-batch
    # is the batch's child, not the build's
    kids = {i: ([], []) for i in range(len(execs))}
    for b, i in batches:
        kids[i][0].append(_span(b))
    for r, i in [s for s in stages
                 if not any(j == s[1] and b["start_ms"] <= _mid(s[0]) <= b["end_ms"]
                            for b, j in batches)] + phases:
        kids[i][0 if _mid(r) < built[i] else 1].append(_span(r))
    mine = [i for i, e in enumerate(execs) if e["pass"] in traced]
    build_self = sum(self_time((windows[i][0], built[i]), kids[i][0]) for i in mine)
    action_self = sum(self_time((built[i], windows[i][1]), kids[i][1]) for i in mine)
    exec_wall = sum(covered(windows[i], [_span(s) for s, j in stages if j == i])
                    for i in mine)

    def total(key, recs=stages):
        return sum(r[key] for r, _ in recs)

    def phase_s(name, recs=phases):
        return sum((p["end_ms"] - p["start_ms"]) / 1e3 for p, _ in recs
                   if p["name"] == name)

    writes = [(a, i) for a, i in actions if a.get("write")]
    writers = {i for _, i in writes}
    read_back = sum(s["in_bytes"] for s, i in stages
                    if i in writers and _mid(s) >= built[i])
    result_rows = sum(execs[i]["rows"] for i in mine)
    cg = run["codegen"]
    warm_passes = len(walls["warm"]) + n  # codegen counters span both kinds
    wall = sum(walls["traced"])
    totals = {
        "entry.build_s": sum(execs[i]["build_s"] for i in mine),
        "entry.build_self_s": build_self / 1e3,
        "action.self_s": action_self / 1e3,
        "plan.analysis_s": phase_s("analysis"),
        "plan.optimization_s": phase_s("optimization"),
        "plan.physical_s": phase_s("planning"),
        "plan.actions": len(actions),
        "plan.exchanges": sum(a.get("exchanges", 0) for a, _ in actions),
        "plan.smj": sum(a.get("smj", 0) for a, _ in actions),
        "codegen.compiles": cg["warm_compiles"] * n / warm_passes,
        "codegen.compile_s": cg["warm_compile_ns"] / 1e9 * n / warm_passes,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": total("tasks"),
        "exec.task_s": total("run_s"),
        "exec.cpu_s": total("cpu_s"),
        "exec.gc_s": total("gc_s"),
        "exec.task_failures": total("task_failures"),
        "scan.bytes": total("in_bytes"),
        "scan.rows": total("in_rows"),
        "shuffle.write_bytes": total("shuffle_write"),
        "shuffle.read_bytes": total("shuffle_read"),
        "shuffle.fetch_wait_s": total("fetch_wait_s"),
        "spill.bytes": total("spill_disk"),
        "sink.s": total("duration_s", writes),
        "sink.bytes": total("out_bytes"),
        "sink.rows": total("out_rows"),
        "sink.files": total("files", writes),
        "stream.batches": len(batches),
        "stream.batch_s": sum(b["end_ms"] - b["start_ms"] for b, _ in batches) / 1e3,
        "stream.add_batch_s": total("add_batch_s", batches),
        "stream.wal_commit_s": total("wal_commit_s", batches),
        "stream.state_commit_s": total("state_commit_s", batches),
        "stream.state_rows": total("state_rows", batches),
    }
    m = {k: v / n for k, v in totals.items()}
    plan_s = sum(m[f"plan.{k}_s"] for k in ("analysis", "optimization", "physical"))
    cold = placed(phase_spans, passes={0})
    m.update({
        "exec.busy_frac": totals["exec.task_s"] / (wall * cores),
        "scan.rows_per_result": totals["scan.rows"] / max(result_rows, 1),
        "sink.bytes_per_user_byte":
            totals["sink.bytes"] / read_back if read_back else 0.0,
        "stream.empty_batch_frac":
            sum(b["input_rows"] == 0 for b, _ in batches) / max(len(batches), 1),
        "plan.cold_s": sum(p["end_ms"] - p["start_ms"] for p, _ in cold) / 1e3,
        "codegen.cold_compiles": cg["cold_compiles"],
        "codegen.cold_compile_s": cg["cold_compile_ns"] / 1e9,
        "codegen.interp_fallbacks": cg["interp_fallbacks"],
        "share.plan_compile": (plan_s + m["codegen.compile_s"]) * n / wall,
        "share.exec": exec_wall / 1e3 / wall,
        "trace.overhead": median(walls["traced"]) / median(walls["warm"]),
    })
    return m
