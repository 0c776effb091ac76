"""One command for the graft benchmark.

    python3 perfbench/run.py --workload <interactive|analytic|etl>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a repository checkout. It builds the engine and the
benchmark (perfbench/build.py), makes the workload's fixture once
(perfbench/fixture.py, and tools/make_sfx.py for the 10x one), runs the
workload in a fresh JVM (perfbench.Main), checks every gate's output
against the DuckDB oracle (tools/local_verify.py), and prints the metrics.
The last line of standard output is one JSON object; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = build.OUT
# wall-clock budget of a run's JVMs together, the retry included
JVM_TIMEOUT_S = 120
# exit code of perfbench.Main when steal spoiled the set-up or cold pass
STOLEN = 3
HEAP = "3g"
# a steady pass, or the set-up and cold pass together, that lost more than
# this share of the machine's CPU time to other tenants is run again
# (perfbench.Main): unloaded runs here lose under 0.5%, loaded ones 10-15%
MAX_STEAL = 0.02
# fewest steady samples whose tail rule (ten samples beyond) gives a
# percentile above the median
MIN_TAIL_SAMPLES = 21
# what build.sbt passes to forked runs: Spark's JavaModuleOptions for JDK 17
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
# rows each fixture must hold after tools/make_sfx.py, from its own report
SFX_ROWS = {"lineitem": 6_000_000, "documents": 50_000}


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def fixture(name):
    """Makes the named fixture once under .bench_build and returns its dir.
    `sf<x>` is generated; `sf<x>x<k>` is `sf<x>` replicated k-fold by the
    unchanged tools/make_sfx.py. The fixture seed is fixed."""
    dst = os.path.join(OUT, "fixtures", name)
    done = os.path.join(dst, ".done")
    if os.path.exists(done):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    m = re.fullmatch(r"sf([0-9.]+)(?:x([0-9]+))?", name)
    if m.group(2) is None:
        subprocess.run([sys.executable, os.path.join(HERE, "fixture.py"), dst,
                        m.group(1)], check=True, timeout=600)
    else:
        src = fixture(f"sf{m.group(1)}")
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "make_sfx.py"), src,
             dst, m.group(2)], check=True, timeout=600, capture_output=True,
            text=True)
        counts = dict(re.findall(r"^(\w+): (\d+)$", proc.stdout, re.M))
        for table, rows in SFX_ROWS.items():
            if int(counts.get(table, -1)) != rows:
                raise SystemExit(f"make_sfx {name}: {table} has "
                                 f"{counts.get(table)} rows, expected {rows}")
    open(done, "w").close()
    return dst


def cores():
    return len(os.sched_getaffinity(0))


def steady_passes(wl, seconds):
    """Steady passes of a run: `seconds` over the workload's nominal pass
    time, a fixed figure in workloads.json, so the count depends only on the
    arguments and is the same for every commit however fast it runs."""
    return max(math.ceil(seconds / wl["pass_s"]),
               math.ceil(MIN_TAIL_SAMPLES / len(wl["gates"])))


def run_jvm(wl, sf_dir, args, work, deadline, abort_on_steal):
    """Runs perfbench.Main once. Returns its record and dump directory, or
    (None, dir) when it stopped because steal spoiled its cold start."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out_json = os.path.join(work, "run.json")
    verify_dir = os.path.join(work, "verify")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", "-XX:-UsePerfData", *opens, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(), "perfbench.Main", sf_dir, str(cores()),
           str(args.seed), str(steady_passes(wl, args.seconds)), str(args.trace),
           ",".join(wl["gates"]), out_json, verify_dir,
           str(os.sysconf("SC_CLK_TCK")), str(MAX_STEAL), str(int(abort_on_steal))]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.run(cmd, cwd=work, env=env, stdout=log,
                              stderr=subprocess.STDOUT,
                              timeout=max(1.0, deadline - time.monotonic()))
    if proc.returncode == STOLEN:
        return None, verify_dir
    if proc.returncode != 0 or not os.path.exists(out_json):
        with open(os.path.join(work, "jvm.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed with code {proc.returncode}")
    with open(out_json) as f:
        return json.load(f), verify_dir


def check(gates, sf_dir, verify_dir):
    """Names of gates whose dumped output the oracle check rejects (the
    DuckDB oracle through tools/local_verify.py where the gate has one,
    else the rows-only check QueryPack prescribes: at least one row), how many gates
    have an oracle, and how many rows the gates return in all."""
    import duckdb
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "local_verify.py"),
         sf_dir, verify_dir], capture_output=True, text=True, timeout=40)
    verdicts = dict((n, v) for v, n in re.findall(r"^(PASS|FAIL) (\S+?):", proc.stdout, re.M))
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        has_oracle = set(json.load(f))
    con = duckdb.connect()
    rows = {}
    for g in gates:
        files = glob.glob(os.path.join(verify_dir, g, "*.parquet"))
        rows[g] = con.execute("SELECT count(*) FROM read_parquet(?)",
                              [files]).fetchone()[0] if files else -1
    rejected = [g for g in gates if (verdicts.get(g) != "PASS" if g in has_oracle
                                     else rows[g] <= 0)]
    return rejected, len(has_oracle & set(gates)), sum(max(0, r) for r in rows.values())


def end_to_end(run):
    cold = next(p for p in run["passes"] if p["kind"] == "cold")
    steady = [p for p in run["passes"] if p["kind"] == "steady"]
    stolen = [p for p in run["passes"] if p["kind"] == "stolen"]
    gates = [g for p in steady for g in p["gates"]]
    ok = [g["seconds"] for g in gates if g["ok"]]
    pct, tail_s, n = stats.tail(ok)
    pass_s = stats.median([sum(g["seconds"] for g in p["gates"]) for p in steady])
    metrics = {
        "setup_s": (run["setup"]["setup_s"], "s"),
        "cold_pass_s": (sum(g["seconds"] for g in cold["gates"]), "s"),
        "qpm": (60.0 * len(steady[0]["gates"]) / pass_s, "1/min"),
        "latency_p50_ms": (1e3 * stats.median(ok), "ms"),
        "latency_tail_ms": (1e3 * tail_s, "ms"),
        "retained_heap_mb": (max(g["heap_mb"] for g in gates), "MiB"),
    }
    notes = {"latency_tail_ms": f"p{pct}, n={n}",
             "qpm": f"median of {len(steady)} steady passes; "
                    f"{len(stolen)} stolen passes run again",
             "setup_s": "cold JVM; set-up and cold pass lost %.1f%% to steal"
                        % (100 * run["cold_steal_share"])}
    return metrics, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workloads = load_workloads()
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload}; "
                         f"choose from {', '.join(workloads)}")
    wl = workloads[args.workload]
    build.build()
    sf_dir = fixture(wl["fixture"])
    work = os.path.join(OUT, "work", args.workload)
    deadline = time.monotonic() + JVM_TIMEOUT_S
    run, verify_dir = run_jvm(wl, sf_dir, args, work, deadline, abort_on_steal=True)
    if run is None:
        print(f"set-up and cold pass lost over {MAX_STEAL:.0%} of the CPU "
              "to steal; running again in a fresh JVM")
        run, verify_dir = run_jvm(wl, sf_dir, args, work, deadline,
                                  abort_on_steal=False)
    rejected, n_oracle, result_rows = check(wl["gates"], sf_dir, verify_dir)

    runs = [g for p in run["passes"] for g in p["gates"]]
    threw = sorted({g["name"] for g in runs if not g["ok"]})
    failed = sum(1 for g in runs if not g["ok"] or g["name"] in rejected)
    if args.trace:
        metrics, notes = layers.per_layer(run, result_rows), {}
    else:
        metrics, notes = end_to_end(run)

    print(f"workload {args.workload}: {len(wl['gates'])} gates on "
          f"{wl['fixture']}, local[{run['cores']}], one client, closed loop, "
          f"{len(run['passes'])} passes ({len(runs)} gate runs)")
    for name, (value, unit) in metrics.items():
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"  {name:<34} {value:>14.4f} {unit}{note}")
    print(f"  failed_ratio {failed}/{len(runs)}; oracle-checked "
          f"{n_oracle}, rows-only {len(wl['gates']) - n_oracle}")
    for g in threw:
        err = next(r["error"] for r in runs if r["name"] == g and not r["ok"])
        print(f"  threw: {g}: {err}")
    for g in rejected:
        print(f"  rejected by the correctness check: {g}")
    if args.trace:
        for line in layers.coverage_report(run):
            print("  " + line)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(runs), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
