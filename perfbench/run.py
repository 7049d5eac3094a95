#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine and print its metrics.

    python3 perfbench/run.py --workload elt_daily --seed 7 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark runner with sbt (perfbench/build.sbt); later runs rebuild only when
a source or build file changed. Each run then

  1. times a fixed CPU calibration kernel (again at the end),
  2. generates the workload's inputs and ground truth from --seed (gen.py),
  3. starts one JVM that sets up (session build, input registration, checked
     warm-up ops; timed from JVM start) and then runs the workload's ops back
     to back: --seconds ÷ the workload's nominal op time of them (see
     op_count), so every run measures the same ops whatever the host's speed,
  4. checks every op's output (and, for sql_reports, every distinct report
     against DuckDB), and
  5. prints one line per metric, writes a self-describing artifact under
     .bench_build/perfbench/results/, and prints the result JSON last.

With --trace 0 the result carries the end-to-end metrics; with --trace 1 the
per-layer metrics (medians over the traced ops) and the tracing overhead.
"""
import argparse
import datetime
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(HERE, "target", "launch")
WORKLOADS = ("elt_daily", "sql_reports", "curate_corpus")
HEAP = "3g"
NPROC = len(os.sched_getaffinity(0))  # what `nproc` prints
RUN_TIMEOUT_S = 150
# Nominal op time per workload on a 4-core host. `--seconds` sets the number
# of timed ops to seconds / nominal (see op_count).
NOMINAL_OP_S = {"elt_daily": 4.5, "sql_reports": 0.37, "curate_corpus": 5.3}
# Fewest timed op groups. The first elt_daily day after the warm-up still
# runs on the steep part of the JIT warm-up curve (~1.2x the second day), so
# the median of two would mostly measure where that curve ends.
MIN_GROUPS = {"elt_daily": 3, "sql_reports": 2, "curate_corpus": 2}


def op_count(workload, seconds, trace):
    """Timed ops of a run, in groups of one op (one block of one request per
    template for sql_reports). A traced run adds one settling group, then
    alternates untraced, traced, traced, untraced groups, at least four."""
    group = len(gen.SQL_TEMPLATES) if workload == "sql_reports" else 1
    n = max(MIN_GROUPS[workload], round(seconds / NOMINAL_OP_S[workload] / group))
    if trace:
        n = 1 + max(4, -(-n // 4) * 4)
    return n * group


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def source_files():
    """Every file the build reads: engine sources, build definitions and the
    benchmark runner's sources."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(top, f) for f in sorted(os.listdir(top))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(src_hash):
    stamp = os.path.join(LAUNCH, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == src_hash:
        return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "-batch", "writeLaunch"], cwd=HERE, stdout=lf,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed (log: %s)" % log)
    with open(stamp, "w") as f:
        f.write(src_hash)


def java_cmd(tmp):
    """The engine's JVM options from its build, with the benchmark's heap and
    a temp dir inside the run directory (no perf-data file in /tmp)."""
    cp = open(os.path.join(LAUNCH, "classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(LAUNCH, "jvm_options.txt")).read().split("\n")
            if o and not o.startswith("-Xmx")]
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opts + ["-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
                               "-cp", cp, "perfbench.Main"])


# ---------------------------------------------------------------------------
# host calibration
# ---------------------------------------------------------------------------

def calibrate():
    """Seconds for a fixed single-threaded CPU kernel (integer hashing loop).
    Timed before and after every run so host speed shifts show in the
    artifact; median of three."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        h = 0
        for i in range(300_000):
            h = (h * 1_000_003 + i) & 0xFFFFFFFFFFFF
        times.append(time.perf_counter() - t)
    return statistics.median(times)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def generate(workload, seed, ops, inp):
    if workload == "elt_daily":
        m = gen.gen_elt(seed, inp, days=ops + 1)
    elif workload == "sql_reports":
        m = gen.gen_sql(seed, inp, n_requests=ops)
    else:
        m = gen.gen_corpus(seed, inp)
    with open(os.path.join(inp, "manifest.json"), "w") as f:
        json.dump(m, f)
    return m


# ---------------------------------------------------------------------------
# sql_reports oracle
# ---------------------------------------------------------------------------

def render(template, params):
    def lit(v):
        if isinstance(v, dict):
            return "DATE '%s'" % v["date"]
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)
    out = template
    for t in gen.SQL_TABLES:
        out = out.replace("{{%s}}" % t, t)
    for k, v in params.items():
        out = out.replace("{{%s}}" % k, lit(v))
    return out


def duck_cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return str(v)


def duck_hash(rows):
    lines = sorted("\x1f".join(duck_cell(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for l in lines:
        h.update(l.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def oracle_check(inp, ops, warmup):
    """Hash-match every distinct executed (template, params) request against
    DuckDB. Returns the indexes of the timed ops whose result differs, the
    number of differing warm-up reports and the number of distinct requests."""
    import duckdb
    reqs = json.load(open(os.path.join(inp, "requests.json")))
    con = duckdb.connect()
    for t in gen.SQL_TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(inp, t + ".parquet")))
    expected, bad, bad_warm = {}, set(), 0
    for o in [{"index": None, "result": w} for w in warmup] + ops:
        res = o.get("result")
        if not res:
            continue
        i = res["request"]
        r = reqs["warmup"][-1 - i] if i < 0 else reqs["requests"][i]
        key = json.dumps(r, sort_keys=True)
        if key not in expected:
            spec = gen.REPORTS[r["template"]]
            tpl = "\n".join(spec.get("duckdb", spec["sql"]))
            expected[key] = duck_hash(con.execute(render(tpl, r["params"])).fetchall())
        if expected[key] != res["hash"]:
            if o["index"] is None:
                bad_warm += 1
            else:
                bad.add(o["index"])
    con.close()
    return bad, bad_warm, len(expected)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def tail(values):
    """Highest percentile (in steps of 5) with at least 10 samples above it;
    None when only the median or lower qualifies."""
    n = len(values)
    s = sorted(values)
    for p in (99, 95, 90, 85, 80, 75, 70, 65, 60, 55):
        k = int(p / 100 * n)
        if n - k - 1 >= 10:
            return p, s[k]
    return None


def op_kinds(workload, inp, ops):
    """The kind of each op: its report template for sql_reports (op i ran
    request i), one kind for the other workloads."""
    if workload != "sql_reports":
        return [workload] * len(ops)
    reqs = json.load(open(os.path.join(inp, "requests.json")))["requests"]
    return [reqs[o["index"]]["template"] for o in ops]


def rows_per_s(ops, kinds):
    """Input rows per timed second, each op's time taken as the median time
    of its kind, so one stalled op does not move the rate."""
    by_kind = {}
    for o, k in zip(ops, kinds):
        by_kind.setdefault(k, []).append(o["dur_s"])
    secs = sum(len(d) * statistics.median(d) for d in by_kind.values())
    return sum(o["rows"] for o in ops) / secs


def run_jvm(workload, inp, work, ops, max_seconds, trace, out):
    cmd = java_cmd(os.path.join(work, "tmp")) + [
        "--workload", workload, "--input", inp, "--work", work, "--ops", str(ops),
        "--max-seconds", str(max_seconds),
        "--trace", str(trace), "--cores", str(NPROC), "--out", out]
    log = out + ".log"
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               timeout=RUN_TIMEOUT_S, cwd=ROOT)
        except subprocess.TimeoutExpired:
            fail("%s timed out (log: %s)" % (workload, log), 3)
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-3000:])
        fail("%s failed with exit code %d (log: %s)" % (workload, p.returncode, log), 3)
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark (expected build.sbt and src/main/scala "
             "in %s); run from a full checkout" % ROOT)
    if shutil.which("sbt") is None and not os.path.exists(os.path.join(LAUNCH, "stamp")):
        fail("sbt is not on PATH and the benchmark has not been built")

    src_hash = tree_hash()
    build(src_hash)
    cal_before = calibrate()

    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    run_dir = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    inp = os.path.join(run_dir, "input")
    os.makedirs(inp)
    t = time.perf_counter()
    ops_n = op_count(args.workload, args.seconds, args.trace)
    manifest = generate(args.workload, args.seed, ops_n, inp)
    gen_s = time.perf_counter() - t

    res = run_jvm(args.workload, inp, os.path.join(run_dir, "main"), ops_n,
                  (6 if args.trace else 3) * args.seconds, args.trace,
                  os.path.join(run_dir, "main.json"))

    ops = res["ops"]
    if not ops:
        fail("%s ran no op" % args.workload, 3)
    bad_oracle, bad_warm, distinct = set(), 0, 0
    if args.workload == "sql_reports":
        bad_oracle, bad_warm, distinct = oracle_check(inp, ops, res["warmup"])
        if bad_warm:
            print("FAILED %d warm-up reports: result differs from DuckDB" % bad_warm,
                  file=sys.stderr)
    failed = [o for o in ops if not o["ok"] or o["index"] in bad_oracle]
    for o in failed:
        print("FAILED op %d: %s" % (o["index"], o["error"] or "result differs from DuckDB"),
              file=sys.stderr)
    attempted = len(ops)
    cal_after = calibrate()

    untraced = [o for o in ops if not o["traced"]]
    durs = [o["dur_s"] for o in untraced]
    tl = tail(durs)
    # A run reports one population: end-to-end metrics from an untraced
    # run, per-layer metrics from a traced one.
    e2e, layers = {}, {}
    if args.trace == 0:
        e2e = {
            "setup_s": (res["setup_s"], "s"),
            "op_p50_s": (statistics.median(durs), "s"),
            "rows_per_s": (rows_per_s(untraced, op_kinds(args.workload, inp, untraced)),
                           "rows/s"),
            "heap_live_mb": (res["heap_live_mb"], "MB"),
            "fail_ratio": (len(failed) / attempted, "ratio"),
        }
        if tl:
            e2e["op_tail_s"] = (tl[1], "s")
    else:
        for name in (res["layers"][0] if res["layers"] else {}):
            layers[name] = statistics.median(l[name] for l in res["layers"])
        traced = [o["dur_s"] for o in ops if o["traced"]]
        plain = [o["dur_s"] for o in untraced if not o["settle"]]
        layers["trace.overhead"] = statistics.median(traced) / statistics.median(plain)

    correct = attempted > 0 and not failed and not bad_warm
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "attempted": attempted, "failed": len(failed),
        "failures": [{"op": o["index"], "error": o["error"] or "differs from DuckDB"}
                     for o in failed],
        "source_tree_sha256": src_hash, "git_commit": git_commit(),
        "host": {"nproc": NPROC, "machine": platform.machine(),
                 "python": platform.python_version(),
                 "calibration_s": {"before": cal_before, "after": cal_after}},
        "jvm": {"java_version": res["java_version"], "spark_version": res["spark_version"],
                "xmx": HEAP, "max_heap_mb": res["max_heap_mb"], "cores": res["cores"],
                "jvm_args": res["jvm_args"]},
        "inputs": {"sizes": manifest["sizes"], "config": manifest["config"],
                   "truth": summarize_truth(manifest), "generation_s": gen_s},
        "setup_split_s": res["setup_split_s"],
        "ops": {"attempted": attempted, "untraced": len(durs),
                "traced": attempted - len(durs), "durations_s": [o["dur_s"] for o in ops]},
        "tail": {"percentile": tl[0], "n": len(durs)} if tl else {"percentile": None,
                                                                    "n": len(durs)},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": layers,
        "steps": step_table(res.get("steps", [])),
    }
    if args.workload == "sql_reports":
        artifact["oracle"] = {"engine": "duckdb", "distinct_requests": distinct,
                              "mismatches": len(bad_oracle), "warmup_mismatches": bad_warm}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    art_path = os.path.join(BUILD, "results", tag + ".json")
    with open(art_path, "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print("workload %s seed %d: %d ops, %d failed, calibration %.4f s -> %.4f s"
          % (args.workload, args.seed, attempted, len(failed), cal_before, cal_after))
    # the result carries exactly the metrics BENCHMARK.json declares
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.trace == 0:
        shown = e2e
        declared = bench["end_to_end"]
    else:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        shown = {k: (v, units.get(k, "")) for k, v in layers.items()}
        declared = bench["per_layer"]
    for k in sorted(shown):
        print("%-28s %14.6g %s" % (k, shown[k][0], shown[k][1]))
    missing = [m["name"] for m in declared if m["name"] not in shown]
    if missing:
        fail("metrics missing from the run: %s" % ", ".join(missing), 3)
    metrics = {m["name"]: {"value": shown[m["name"]][0], "unit": m["unit"]} for m in declared}
    print("artifact %s" % os.path.relpath(art_path, ROOT))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def step_table(steps_per_op):
    """Median over traced ops of each step's inclusive, self and dark time."""
    rows = {}
    for op in steps_per_op:
        for s in op:
            rows.setdefault(s["step"], []).append(s)
    return {name: {k: statistics.median(x[k] for x in ss)
                   for k in ("calls", "incl_s", "self_s", "dark_s", "jobs")}
            for name, ss in sorted(rows.items())}


def summarize_truth(m):
    t = m.get("truth")
    if isinstance(t, list):  # elt_daily: per-day truth; keep the first and last day
        return {"days": len(t), "first": t[0], "last": t[-1]}
    return t


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
