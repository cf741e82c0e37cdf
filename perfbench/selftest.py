#!/usr/bin/env python3
"""Self-test and property tests of the benchmark. Run from the root of a
graft checkout:

  python3 perfbench/selftest.py contract   # one timed pass (after the cold pass) at
                                           # sf0.001 per workload:
                                           # every metric of BENCHMARK.json printed with
                                           # its unit, an injected failure counted, an
                                           # unknown operation stopping the run
  python3 perfbench/selftest.py corpus     # near-duplicate pairs grow linearly with copies
  python3 perfbench/selftest.py counts     # jobs / shuffle / scan repeat across warm passes
  python3 perfbench/selftest.py all

Exit status 0 when every check holds.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SF0001 = str(BENCH / "data" / "sf0.001")
sys.path.insert(0, str(BENCH))
from run import WORKLOADS  # noqa: E402

# Operations whose per-pass work counters have been seen to vary on
# identical input in one session; named in README.md as program behaviour.
SHUFFLE_VARIES = {"llm_semdedup", "llm_embedding_neardup", "misc_snapshot_merge", "llm_ann_ivf"}
JOBS_VARY = {"llm_semdedup", "llm_ann_ivf"}


def run(args):
    """Runs the benchmark; returns (exit code, parsed last stdout line or None)."""
    p = subprocess.run([sys.executable, str(BENCH / "run.py")] + args, cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result


def report(args):
    f = ROOT / ".bench_build" / "selftest-report.json"
    f.unlink(missing_ok=True)
    rc, result = run(args + ["--report", str(f)])
    return rc, result, json.loads(f.read_text()) if f.exists() else {}


def check(ok, what, problems):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        problems.append(what)


def contract(problems):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    one_pass = ["--data", SF0001, "--seconds", "0",
                "--min-passes", "1", "--seed", "1"]
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = run(["--workload", w["name"], "--trace", str(trace)] + one_pass)
            check(rc == 0 and res is not None and res["correct"] and res["failed"] == 0,
                  f"{w['name']} trace {trace}: exit 0, correct, nothing failed", problems)
            got = (res or {}).get("metrics", {})
            want = {m["name"]: m["unit"] for m in spec[key]}
            check(set(got) == set(want) and all(got[k]["unit"] == u for k, u in want.items()),
                  f"{w['name']} trace {trace}: every {key} metric printed with its unit",
                  problems)
    rc, res = run(["--workload", "etl_pipeline", "--inject-failure"] + one_pass)
    n_ops = len(WORKLOADS["etl_pipeline"]["ops"]) + 1
    check(rc != 0 and res is not None and not res["correct"]
          and res["failed"] == res["attempted"] // n_ops,
          "an injected failing operation is counted as failed in every pass", problems)
    rc, res = run(["--workload", "etl_pipeline", "--ops", "no_such_operation"] + one_pass)
    check(rc != 0 and res is None, "an unknown operation name stops the run", problems)


def corpus(problems):
    """The scaled corpus keeps the duplicate structure inside a copy and
    shares none across copies, so planted near-duplicates grow linearly
    with the number of copies (verbatim copies, as graft.ScaleUp makes of
    `embeddings`, give every item N-1 exact duplicates instead)."""
    import numpy as np
    import pyarrow.parquet as pq
    import corpus as gen
    out = ROOT / ".bench_build" / "selftest-corpus"
    shutil.rmtree(out, ignore_errors=True)
    gen.write(BENCH / "data" / "sf0.01", out, 4, 7)
    docs = pq.read_table(out / "documents.parquet").to_pydict()
    vecs = pq.read_table(out / "embeddings.parquet")
    shutil.rmtree(out, ignore_errors=True)
    copy_of = [i // gen.SHIFT for i in docs["doc_id"]]
    texts = {}
    for c, t in zip(copy_of, docs["text"]):
        texts.setdefault(t, set()).add(c)
    check(all(len(cs) == 1 for cs in texts.values()),
          "no document text appears in two copies", problems)
    e = np.array(vecs["embedding"].to_pylist(), dtype=np.float64)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    n = len(e) // 4
    base_cos = e[:n] @ e[:n].T
    for c in (1, 2, 3):
        part = e[c * n:(c + 1) * n]
        check(np.allclose(part @ part.T, base_cos, atol=1e-5),
              f"copy {c} keeps every cosine of the base copy", problems)
        check(np.abs(np.sum(part * e[:n], axis=1)).max() < 0.9,
              f"no vector of copy {c} is a near-copy of its base vector", problems)
    # End to end: Jaccard-verified MinHash pairs are planted near-duplicates.
    # SimHash and embedding pairs at this size are mostly chance
    # similarity (a ~40-word vocabulary, random 64-d vectors), which grows
    # with the square of the corpus whatever the generator does; they are
    # printed, not checked.
    ops = ["llm_minhash_lsh", "llm_simhash_pairs", "llm_embedding_neardup"]
    rows = {}
    for k in (1, 2, 4):
        rc, _, rep = report(["--workload", "llm_curation", "--ops", ",".join(ops),
                             "--copies", str(k), "--seed", "7", "--seconds", "0",
                             "--min-passes", "1"])
        check(rc == 0, f"corpus x{k}: run succeeds", problems)
        rows[k] = {op: rep.get(op, {}).get("rows", -1) for op in ops}
    base = rows[1]["llm_minhash_lsh"]
    for k in (2, 4):
        got = rows[k]["llm_minhash_lsh"]
        check(base > 0 and abs(got - k * base) <= 0.1 * k * base,
              f"llm_minhash_lsh: {got} pairs at x{k}, within 10 % of {k} x {base}", problems)
    for op in ops[1:]:
        print(f"note {op}: " + ", ".join(f"x{k} {rows[k][op]}" for k in (1, 2, 4)))


def counts(problems):
    """Per operation, jobs, shuffle bytes and scan bytes repeat exactly
    across the timed passes, except where README.md names the program's
    nondeterminism."""
    groups = [(w, None) for w in WORKLOADS] + [
        ("llm_curation", "llm_semdedup,llm_embedding_neardup")]
    for w, ops in groups:
        args = ["--workload", w, "--seed", "3", "--seconds", "0",
                "--min-passes", "4"]
        if ops:
            args += ["--ops", ops]
        rc, _, rep = report(args)
        check(rc == 0, f"{w} {ops or ''}: run succeeds", problems)
        for op, r in sorted(rep.items()):
            for key, allowed in (("jobs", JOBS_VARY), ("shuffle_bytes", SHUFFLE_VARIES),
                                 ("scan_bytes", set())):
                steady = len(r[key]) == 1
                if op in allowed:
                    print(f"note {op}: {key} {'repeats' if steady else 'varies'}: {r[key]}")
                else:
                    check(steady, f"{op}: {key} repeats across passes ({r[key]})", problems)


def main():
    what = sys.argv[1] if len(sys.argv) > 1 else "contract"
    tests = {"contract": [contract], "corpus": [corpus], "counts": [counts],
             "all": [contract, corpus, counts]}
    if what not in tests:
        sys.exit(__doc__)
    problems = []
    for t in tests[what]:
        t(problems)
    print(f"== {len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
