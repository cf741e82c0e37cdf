#!/usr/bin/env python3
"""graft benchmark: one closed-loop client per workload, measured end to end
and layer by layer. See perfbench/README.md.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The exit status is 0 only when every operation succeeded and
matched its DuckDB oracle.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import corpus  # noqa: E402
import oracle  # noqa: E402

BENCH = Path(__file__).resolve().parent
MB = 1048576.0
# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]
# Every JVM of a run (after the build) must end within this many seconds.
JVMS_TIMEOUT_S = 150
# Set-ups per run: the measured JVM's own and those of short JVMs that stop
# once the session is up; setup_s is their median.
SETUPS = 3
# Operation families (graft's modules), each timed in three phases.
FAMILIES = ["models", "checks", "sync", "sources", "llm"]

# Registered operations (SparkEntry.queries keys) each workload's client
# runs once per pass, in an order drawn from the seed; `copies` > 0 makes the
# corpus of corpus.py the input instead of the bundled tables.
WORKLOADS = {
    # transform (models), load (sync), validate (checks) and land in
    # snapshot tables (sources)
    "etl_pipeline": dict(copies=0, ops=[
        "mms_normalized_costs", "sync_cdc_diff", "dq_benford", "dq_failed_rows",
        "misc_snapshot_merge"]),
    "llm_curation": dict(copies=2, ops=["llm_minhash_lsh", "llm_ann_ivf"]),
}
T0 = time.monotonic()


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def jvm(classes, run_dir, args, deadline):
    """Runs the harness JVM in `run_dir` (its java.io.tmpdir too) and kills
    it at `deadline` (time.monotonic()); returns the exit code. Its output
    goes to run_dir/jvm.log."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_dir}"] + ADD_OPENS +
           ["-cp", build.classpath(classes), "graftbench.Main",
            "--run-dir", str(run_dir)] + args)
    with open(run_dir / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            log(f"harness JVMs still running after {JVMS_TIMEOUT_S} s; killed")
            return 124
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def tail(path, n=30):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def op_wall(o):
    return o["build_s"] + o["plan_s"] + o["exec_s"]


def per_pass(p, f, bad):
    return sum(f(o) for o in p["ops"] if o["name"] not in bad)


def pass_walls(res, bad):
    """Wall time of the cold pass and median wall time of the timed passes."""
    walls = {k: [per_pass(p, op_wall, bad) for p in res["passes"] if p["kind"] == k]
             for k in ("cold", "timed")}
    return walls["cold"][0], median(walls["timed"])


def end_to_end(res, setup_s, min_passes, bad):
    """The end-to-end metrics from the harness's pass records,
    counting only operations that never failed. Pass wall times are not
    among them (see README.md, "Why no pass time is gated")."""
    timed = [p for p in res["passes"] if p["kind"] == "timed"]

    def warm(f):
        return median([per_pass(p, f, bad) for p in timed])

    return {
        "setup_s": (setup_s, "s"),
        "jobs": (warm(lambda o: o["jobs"]), "count"),
        "shuffle_mb": (warm(lambda o: o["shuffle_write_bytes"]) / MB, "MB"),
        "scan_mb": (warm(lambda o: o["input_bytes"]) / MB, "MB"),
        # after a fixed number of passes: the heap grows a little with
        # every pass, and a loaded host runs fewer of them in --seconds
        "heap_mb": (timed[min_passes - 1]["heap_after_gc_bytes"] / MB, "MB"),
    }


def covered_ms(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def per_layer(res, spans, bad):
    """The per-layer metrics, from the spans of a traced run."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    timed = [s for s in spans if s["name"] == "pass" and s["attrs"]["kind"] == "timed"]
    rows = []  # one dict per timed pass
    for p in timed:
        acc = {}

        def add(k, v):
            acc[k] = acc.get(k, 0.0) + v
        for op in children.get(p["id"], []):
            if op["name"] in bad:
                continue
            kids = children.get(op["id"], [])
            phases = {k["name"]: k for k in kids if k["name"] in ("build", "plan", "exec")}
            jobs = [k for k in kids if k["name"] == "job"]
            for ph, s in phases.items():
                add(f"{op['attrs']['family']}.{ph}_s", (s["end_ms"] - s["start_ms"]) / 1e3)
            if phases:
                lo, hi = phases["build"]["start_ms"], phases["exec"]["end_ms"]
                add("spark.driver_gap_s", (hi - lo - covered_ms(
                    [(j["start_ms"], j["end_ms"]) for j in jobs], lo, hi)) / 1e3)
            for j in jobs:
                a = j["attrs"]
                add("spark.stages", a["stages"])
                add("spark.tasks", a["tasks"])
                add("spark.job_s", (j["end_ms"] - j["start_ms"]) / 1e3)
                add("spark.task_cpu_s", a["cpu_s"])
                add("spark.task_run_s", a["task_run_s"])
                add("spark.gc_s", a["task_gc_s"])
                add("spark.shuffle_read_mb", a["shuffle_read_bytes"] / MB)
                add("spark.spill_mb", a["spill_bytes"] / MB)
                add("spark.output_mb", a["output_bytes"] / MB)
        rows.append(acc)
    units = {"stages": "count", "tasks": "count"}
    cold_s, warm_s = pass_walls(res, bad)
    out = {"client.cold_pass_s": (cold_s, "s"), "client.warm_pass_s": (warm_s, "s")}
    for fam in FAMILIES:
        for ph in ("build", "plan", "exec"):
            k = f"{fam}.{ph}_s"
            out[k] = (median([r.get(k, 0.0) for r in rows]), "s")
    session = [s for s in spans if s["name"] == "setup.session"]
    out["spark.session_s"] = ((session[0]["end_ms"] - session[0]["start_ms"]) / 1e3
                              if session else 0.0, "s")
    for k in ("stages", "tasks", "job_s", "driver_gap_s", "task_cpu_s", "task_run_s", "gc_s",
              "shuffle_read_mb", "spill_mb", "output_mb"):
        name = f"spark.{k}"
        unit = units.get(k, "MB" if k.endswith("_mb") else "s")
        out[name] = (median([r.get(name, 0.0) for r in rows]), unit)
    lay = res["layers"]
    for k, unit in [("sources.versions", "count"), ("sources.data_files", "count"),
                    ("sources.delete_files", "count"), ("sources.manifest_kb", "KB"),
                    ("sources.data_mb", "MB"), ("sources.tip_resolve_ms", "ms"),
                    ("sources.snapshot_load_ms", "ms"), ("llm.lsh_candidates", "count"),
                    ("llm.lsh_pairs", "count"), ("operators.cc_s", "s"),
                    ("operators.cc_jobs", "count")]:
        out[k] = (lay[k], unit)
    timed_passes = [p for p in res["passes"] if p["kind"] == "timed"]

    def jvm_per_pass(f):
        return median([per_pass(p, f, bad) for p in timed_passes])
    out["jvm.jit_s"] = (jvm_per_pass(lambda o: o["jvm_jit_s"]), "s")
    out["jvm.gc_s"] = (jvm_per_pass(lambda o: o["jvm_gc_s"]), "s")
    heaps = [p["heap_after_gc_bytes"] for p in timed_passes]
    growth = (heaps[-1] - heaps[0]) / (len(heaps) - 1) / MB if len(heaps) > 1 else 0.0
    out["jvm.heap_growth_mb"] = (growth, "MB")
    return out


def op_report(res, bad):
    """Per-operation cold and warm figures, and whether the work counters
    repeat exactly across the timed passes."""
    passes = res["passes"]
    names = [o["name"] for o in res["ops"]]
    cold = {o["name"]: o for o in passes[0]["ops"]}
    timed = [{o["name"]: o for o in p["ops"]} for p in passes if p["kind"] == "timed"]
    report = {}
    for n in names:
        ws = [t[n] for t in timed if n in t]
        report[n] = {
            "family": cold[n]["family"],
            "ok": n not in bad,
            "rows": cold[n]["rows"],
            "cold_s": op_wall(cold[n]),
            "warm_s": median([op_wall(w) for w in ws]),
            "jobs": sorted({w["jobs"] for w in ws}),
            "shuffle_bytes": sorted({w["shuffle_write_bytes"] for w in ws}),
            "scan_bytes": sorted({w["input_bytes"] for w in ws}),
        }
    return report


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=str(BENCH / "data" / "sf0.01"),
                    help="base input directory (default: the bundled sf0.01 tables)")
    ap.add_argument("--min-passes", type=int, default=1)
    ap.add_argument("--ops", help="comma-separated operations instead of the workload's")
    ap.add_argument("--copies", type=int, help="corpus copies instead of the workload's")
    ap.add_argument("--inject-failure", action="store_true",
                    help="append an operation that always throws (self-test)")
    ap.add_argument("--report", help="write per-operation figures to this JSON file")
    a = ap.parse_args()
    if a.trace:  # jvm.heap_growth_mb compares two timed passes
        a.min_passes = max(a.min_passes, 2)
    # SIGTERM (a caller's timeout) unwinds like an error, so that the
    # harness JVM is killed and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    run_dir = (build.BUILD / "runs" /
               f"{a.workload}-{a.seed}-{os.getpid()}-{int(time.time())}").resolve()
    run_dir.mkdir(parents=True)
    try:
        return measure(a, classes, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def inputs(a, into):
    """Makes the run's input directory; returns (path, seconds taken)."""
    copies = a.copies if a.copies is not None else WORKLOADS[a.workload]["copies"]
    t0 = time.monotonic()
    path = corpus.write(a.data, into, copies, a.seed) if copies > 0 else Path(a.data)
    return path, time.monotonic() - t0


def measure(a, classes, run_dir):
    deadline = time.monotonic() + JVMS_TIMEOUT_S
    ops = a.ops or ",".join(WORKLOADS[a.workload]["ops"])
    input_dir, gen_s = inputs(a, run_dir / "input")
    common = ["--ops", ops, "--seed", str(a.seed), "--input", str(input_dir),
              "--seconds", str(a.seconds), "--min-passes", str(a.min_passes),
              "--trace", str(a.trace), "--inject-failure", "1" if a.inject_failure else "0"]

    setups = []
    for i in range(1, SETUPS):
        d = run_dir / f"setup{i}"
        d.mkdir()
        rc = jvm(classes, d, common + ["--setup-only", "1"], deadline)
        if rc != 0:
            log(f"set-up JVM exited {rc}:\n{tail(d / 'jvm.log')}")
            return rc
        setups.append(json.loads((d / "result.json").read_text())["setup_s"])
    main_dir = run_dir / "main"
    main_dir.mkdir()
    t0 = time.monotonic()
    rc = jvm(classes, main_dir, common + ["--setup-only", "0"], deadline)
    if rc != 0:
        log(f"harness JVM exited {rc}:\n{tail(main_dir / 'jvm.log')}")
        return rc
    log(f"harness JVM took {time.monotonic() - t0:.1f} s")
    res = json.loads((main_dir / "result.json").read_text())
    setups.append(res["setup_s"])
    log(f"set-ups: {', '.join(f'{x:.2f}' for x in setups)} s; inputs {gen_s:.2f} s")
    t_jvm = time.monotonic()

    # failures: harness-side (threw, or output changed between passes) ...
    failed_recs = [(p["pass"], o["name"], o["error"]) for p in res["passes"]
                   for o in p["ops"] if not o["ok"]]
    bad = {n for _, n, _ in failed_recs}
    # ... and output-side (written output unlike the oracle's, or no oracle
    # at all)
    sql = json.loads((main_dir / "oracle.json").read_text())
    wrong = oracle.check(res["input_dir"], main_dir / "dump", sql)
    log(f"oracle check took {time.monotonic() - t_jvm:.1f} s")
    for o in res["ops"]:
        if o["name"] not in sql and o["name"] not in bad:
            wrong[o["name"]] = "no oracle SQL registered"
    n_passes = len(res["passes"])
    attempted = n_passes * len(res["ops"])
    failed = len(failed_recs) + n_passes * len(set(wrong) - bad)
    for p, n, err in failed_recs:
        log(f"FAILED {n} (pass {p}): {err}")
    for n, why in sorted(wrong.items()):
        log(f"FAILED {n} (oracle): {why}")
    bad |= set(wrong)

    report = op_report(res, bad)
    if a.report:
        Path(a.report).write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")
    e2e = end_to_end(res, gen_s + median(setups), a.min_passes, bad)
    kinds = [p["kind"] for p in res["passes"]]
    log(f"{a.workload}: {len(res['ops'])} operations, passes: 1 cold, "
        f"{kinds.count('timed')} timed; order: "
        + ", ".join(o["name"] for o in res["ops"]))
    log("pass walls (s): " + ", ".join(
        f"{p['kind'][0]}{per_pass(p, op_wall, bad):.3f}" for p in res["passes"]))
    log("end to end: " + json.dumps({k: round(v, 4) for k, (v, _) in e2e.items()}))
    if a.trace:
        spans = json.loads((main_dir / "spans.json").read_text())
        metrics = per_layer(res, spans, bad)
    else:
        metrics = e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
