"""Per-layer metrics of a traced run, from the spans and counters that
perfbench.Main records: each traced pass holds gate spans with their
construct / plan / execute children, job spans parented to the phase that
submitted them, stage spans parented to their job, per-execution Catalyst
and codegen facts, and materialized RDD blocks.

Every value is per steady traced pass (the mean over them), except the
setup and cold-pass figures. Passes that were run again because steal
spoiled them are left out."""
import stats

MIB = 1048576.0
PHASES = ("construct", "plan", "execute")
CLOCK_SLACK_MS = 2.0
# the traced phases of a gate must cover this share of its untraced latency
COVERAGE_FLOOR = 0.9


def spans(records):
    """Spans by id, with job end times merged into their job spans and each
    gate's execute span split at the end of its noop write's planning
    (from that execution's QueryPlanningTracker phases) into plan and
    execute."""
    by_id = {}
    for r in records:
        if r["kind"] in ("job", "stage", "gate") or r["kind"] in PHASES:
            by_id[r["id"]] = dict(r)
    for r in records:
        if r["kind"] == "job_end" and r["id"] in by_id:
            by_id[r["id"]]["end"] = r["end"]
    execs = sorted((r for r in records if r["kind"] == "execution"),
                   key=lambda r: r["start"])
    for e in [s for s in by_id.values() if s["kind"] == "execute"]:
        # tracker phases are in whole milliseconds of another clock
        planned = next((x["planned"] for x in execs
                        if x["start"] >= e["start"] - CLOCK_SLACK_MS
                        and e["start"] <= x["planned"] <= e["end"]), e["start"])
        plan_id = e["id"].rsplit(".", 1)[0] + ".plan"
        by_id[plan_id] = dict(e, id=plan_id, kind="plan", end=planned)
        e["start"] = planned
    return by_id


def children(by_id):
    kids = {}
    for s in by_id.values():
        kids.setdefault(s.get("parent"), []).append(s)
    return kids


def pass_layers(p, cores, result_rows):
    """Layer metrics of one traced pass; `result_rows` is the number of rows
    the pass's gates return."""
    recs = p["records"]
    by_id = spans(recs)
    kids = children(by_id)
    of = lambda kind: [s for s in by_id.values() if s["kind"] == kind]
    jobs = [j for j in of("job") if "end" in j]
    stages = of("stage")
    execs = [r for r in recs if r["kind"] == "execution"]
    blocks = {}
    for r in recs:
        if r["kind"] == "block":
            blocks[r["id"]] = r["bytes"]

    def self_s(kind):
        return sum(stats.self_time(s["start"], s["end"], [
            (c["start"], c["end"]) for c in kids.get(s["id"], []) if "end" in c])
            for s in of(kind)) / 1e3

    def dur_s(kind):
        return sum(s["end"] - s["start"] for s in of(kind)) / 1e3

    def ssum(key):
        return sum(s[key] for s in stages)

    def esum(key):
        return sum(e[key] for e in execs)

    job_phase = {j["id"]: (j.get("parent") or "").rsplit(".", 1)[-1] for j in jobs}
    exec_run_ms = sum(s["run_ms"] for s in stages
                      if job_phase.get(s.get("parent")) == "execute")
    input_rows = ssum("input_rows")
    return {
        "queries.construct_s": (dur_s("construct"), "s"),
        "queries.driver_s": (self_s("construct"), "s"),
        "queries.eager_jobs": (sum(1 for j in jobs if job_phase[j["id"]] == "construct"), "count"),
        "queries.plan_s": (dur_s("plan"), "s"),
        "queries.execute_s": (dur_s("execute"), "s"),
        "queries.execute_driver_s": (self_s("execute"), "s"),
        "catalyst.analysis_s": (esum("analysis_s"), "s"),
        "catalyst.optimization_s": (esum("optimization_s"), "s"),
        "catalyst.planning_s": (esum("planning_s"), "s"),
        "catalyst.executions": (len(execs), "count"),
        "codegen.compilations": (p["compilations"], "count"),
        "codegen.compile_s": (p["compile_s"], "s"),
        "codegen.fallback_exprs": (esum("fallback_exprs"), "count"),
        "codegen.unfused_operators": (esum("unfused_operators"), "count"),
        "scheduler.jobs": (len(jobs), "count"),
        "scheduler.stages": (len(stages), "count"),
        "scheduler.tasks": (ssum("tasks"), "count"),
        "scheduler.job_wall_s": (sum(j["end"] - j["start"] for j in jobs) / 1e3, "s"),
        "scheduler.delay_s": (ssum("delay_ms") / 1e3, "s"),
        "scheduler.failed_tasks": (ssum("failed_tasks"), "count"),
        "executor.run_s": (ssum("run_ms") / 1e3, "s"),
        "executor.cpu_s": (ssum("cpu_ns") / 1e9, "s"),
        "executor.gc_s": (ssum("gc_ms") / 1e3, "s"),
        "executor.utilization": (
            exec_run_ms / 1e3 / (cores * dur_s("execute")) if dur_s("execute") else 0.0,
            "ratio"),
        "executor.peak_mem_mb": (max([s["peak_mem"] for s in stages] or [0]) / MIB, "MiB"),
        "shuffle.write_mb": (ssum("shuffle_write") / MIB, "MiB"),
        "shuffle.read_mb": (ssum("shuffle_read") / MIB, "MiB"),
        "shuffle.fetch_wait_s": (ssum("fetch_wait_ms") / 1e3, "s"),
        "spill.mb": (ssum("spill") / MIB, "MiB"),
        "sources.input_mb": (ssum("input_bytes") / MIB, "MiB"),
        "sources.input_rows": (input_rows, "count"),
        "sources.files_listed": (esum("files_listed"), "count"),
        "sources.rows_per_result_row": (
            input_rows / result_rows if result_rows else 0.0, "ratio"),
        "write.mb": (ssum("output_bytes") / MIB, "MiB"),
        "write.files": (esum("files_written"), "count"),
        "write.records": (ssum("output_rows"), "count"),
        "materialize.blocks": (len(blocks), "count"),
        "materialize.mb": (sum(blocks.values()) / MIB, "MiB"),
    }


def gate_coverage(run):
    """Per gate: traced construct + plan + execute time over the gate's median
    untraced steady latency."""
    untraced = {}
    for p in run["passes"]:
        if p["kind"] == "steady" and not p["traced"]:
            for g in p["gates"]:
                if g["ok"]:
                    untraced.setdefault(g["name"], []).append(g["seconds"])
    traced = {}
    for p in run["passes"]:
        if p["kind"] == "steady" and p["traced"]:
            for s in p["records"]:
                if s["kind"] in PHASES:
                    traced.setdefault(s["gate"], []).append(s["end"] - s["start"])
    n_traced = sum(1 for p in run["passes"] if p["kind"] == "steady" and p["traced"])
    return {g: sum(traced.get(g, [])) / n_traced / 1e3 / stats.median(ts)
            for g, ts in untraced.items()}


def per_layer(run, result_rows):
    steady = [p for p in run["passes"] if p["kind"] == "steady" and p["traced"]]
    cold = next(p for p in run["passes"] if p["kind"] == "cold")
    per_pass = [pass_layers(p, run["cores"], result_rows) for p in steady]
    out = {"setup.session_s": (run["setup"]["session_s"], "s"),
           "setup.register_s": (run["setup"]["register_s"], "s")}
    for k, (_, unit) in per_pass[0].items():
        out[k] = (sum(m[k][0] for m in per_pass) / len(per_pass), unit)
    out["codegen.cold_compilations"] = (cold["compilations"], "count")
    out["codegen.cold_compile_s"] = (cold["compile_s"], "s")

    def pass_s(traced):
        return stats.median([sum(g["seconds"] for g in p["gates"]) for p in run["passes"]
                             if p["kind"] == "steady" and p["traced"] == traced])
    out["trace.overhead_ratio"] = (pass_s(True) / pass_s(False) - 1.0, "ratio")
    cov = gate_coverage(run)
    out["trace.coverage_min"] = (min(cov.values()), "ratio")
    out["trace.gates_under_90pct"] = (
        sum(1 for c in cov.values() if c < COVERAGE_FLOOR), "count")
    return out


def coverage_report(run):
    cov = gate_coverage(run)
    short = sorted((c, g) for g, c in cov.items() if c < COVERAGE_FLOOR)
    lines = [f"layer coverage: {len(cov) - len(short)}/{len(cov)} gates have "
             f"construct+plan+execute >= 90% of their untraced latency"]
    lines += [f"short: {g} covers {c:.0%}" for c, g in short]
    return lines
