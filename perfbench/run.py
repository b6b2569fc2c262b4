#!/usr/bin/env python3
"""Layered benchmark for the graft Spark library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run:
1. builds the library and the harness from source with sbt (only when a
   source is newer than the last build);
2. generates the workload's inputs from the seed (gen.py);
3. starts one JVM on local[N], N = the CPUs this process may use, with
   graft.Bench's session settings (perfbench/harness), which runs the
   workload's untimed warm-up passes, times passes until --seconds of
   passes are measured, then dumps the outputs the check reads;
4. checks the dumped outputs against DuckDB (oracle.py);
5. prints the metrics; the last stdout line is one JSON object.

--trace 0 reports the end-to-end metrics. --trace 1 traces half the
passes (at least four passes, traced in the order T U U T) and reports the
per-layer metrics, and writes per-op layer records to layers.jsonl in the
run directory.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# Each workload: what one pass runs, which share of the test tables' rows
# its inputs keep (gen.py), and how many untimed warm-up passes come before
# the timed ones (after fewer, the timed passes of a run still got faster
# by up to a third while the JIT compiled). BENCHMARK.json says why each
# workload is here.
KEEP_ALL = dict(orders=0.9, events=0.9, documents=0.9, embeddings=0.9)
WORKLOADS = {
    "queries": dict(
        # ops from each query family the layers separate: a driver
        # program (build and gaps), text similarity (execution), and
        # telemetry batch views (per-query fixed costs)
        families={"iterative": ["q152_pagerank"],
                  "similarity": ["q136_bm25_topk"],
                  "relational": ["q52_sessionize"]},
        keep=KEEP_ALL, warmup=6),
    # two event-days and two document-days, so the second day of each
    # daily job appends to the tables the first day created
    "ingest": dict(event_days=2, doc_days=2, keep=dict(KEEP_ALL, documents=0.2), warmup=2),
}

MB = 1048576.0
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 160


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_newer_than(stamp):
    t = os.path.getmtime(stamp)
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "harness", "project")]:
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            if any(os.path.getmtime(os.path.join(d, f)) > t for f in files):
                return True
    return any(os.path.getmtime(p) > t for p in
               [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "harness", "build.sbt")])


def build(log_path):
    """Compile the library and the harness; return the runtime classpath
    and the root build's JVM options."""
    harness = os.path.join(HERE, "harness")
    stamp = os.path.join(harness, "target", "classpath.txt")
    options = os.path.join(harness, "target", "java-options.txt")

    def launch():
        return open(stamp).read().strip(), open(options).read().splitlines()
    if os.path.exists(stamp) and os.path.exists(options) and not sources_newer_than(stamp):
        return launch()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(log_path, "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                            cwd=harness, env=env, stdout=log, stderr=subprocess.STDOUT).returncode
    if rc != 0 or not os.path.exists(stamp) or not os.path.exists(options):
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"build failed (exit {rc}); log: {log_path}")
    return launch()


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def run_jvm(classpath, java_options, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the root build's options (module opens, UI off, UTC), then the heap
    # (the last -Xms/-Xmx given wins); no perf-data file outside the run dir
    cmd = ["java"] + java_options + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
                                     "-XX:-UsePerfData", "-cp", classpath, "perfbench.Harness"] + [str(a) for a in args]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {JVM_TIMEOUT_S} s; log: {log_path}")
        finally:
            # also on a timeout or a signal: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"harness exited with {rc}; log: {log_path}")


def tail_percentile(xs):
    """(value, percentile, samples): the op latency at the highest
    percentile with at least ten samples beyond it, but never below p90
    (nearest rank). A run collects fewer than 100 op samples, where that
    rule would fall to the median and jump with the number of passes, so
    the tail is p90 with the sample count stated next to it."""
    xs = sorted(xs)
    n = len(xs)
    pct = max(90.0, 100.0 * (n - 10) / n)
    return xs[max(0, math.ceil(pct / 100.0 * n) - 1)], pct, n


def interval_union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def load_trace(path):
    recs = {"span": [], "job": [], "stage": [], "plan": []}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            recs[r["type"]].append(r)
    return recs


def layer_records(trace):
    """Per-op layer records of the traced passes, from spans and the Spark
    events attributed to them."""
    spans = {s["id"]: s for s in trace["span"]}
    jobs_of, stages_of, plans_of = {}, {}, {}
    for j in trace["job"]:
        jobs_of.setdefault(int(j["span"]), []).append(j)
    for st in trace["stage"]:
        stages_of.setdefault(int(st["span"]), []).append(st)
    # A plan belongs to the innermost span whose interval holds all its
    # planning phases (phases are whole milliseconds).
    for p in trace["plan"]:
        lo = min(v[0] for v in p["phases"].values())
        hi = max(v[1] for v in p["phases"].values())
        inner = [s for s in spans.values() if s["parent"] is not None
                 and s["start_ms"] - 1 <= lo and hi <= s["end_ms"] + 1]
        if inner:
            plans_of.setdefault(max(inner, key=lambda s: s["start_ms"])["id"], []).append(p)

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def job_iv(*sids):
        return [(j["start_ms"], j["end_ms"]) for sid in sids for j in jobs_of.get(sid, [])]

    def covered(s, iv):
        return interval_union(iv, s["start_ms"], s["end_ms"]) / 1e3

    def ssum(key, *sids):
        return sum(st[key] for sid in sids for st in stages_of.get(sid, []))

    def skipped(sid):
        """Stages a job listed but did not run: reused shuffle output."""
        submits = {}
        for st in stages_of.get(sid, []):
            submits.setdefault(st["stage"], []).append(st["submit_ms"])
        return sum(1 for j in jobs_of.get(sid, []) for st in j["stage_ids"]
                   if not any(t >= j["start_ms"] for t in submits.get(st, [])))

    records = []
    for op in (s for s in spans.values() if s["parent"] is None):
        kids = {s["name"]: s for s in spans.values() if s["parent"] == op["id"]}
        b, e = kids["build"]["id"], kids["exec"]["id"]
        bs, es = spans[b], spans[e]
        plans = plans_of.get(e, [])
        plan_iv = [tuple(v) for p in plans for v in p["phases"].values()]
        records.append({
            "op": op["name"], "kind": op["kind"], "pass": op["pass"], "wall_s": dur(op),
            "op_self_s": dur(op) - dur(bs) - dur(es),
            "build.s": dur(bs),
            "build.self_s": dur(bs) - covered(bs, job_iv(b)),
            "build.jobs": len(jobs_of.get(b, [])),
            "build.stages": len(stages_of.get(b, [])),
            "build.tasks": ssum("tasks", b),
            "build.task_s": ssum("task_ms", b) / 1e3,
            "build.shuffle_write_mb": ssum("shuffle_write_bytes", b) / MB,
            "gap.s": dur(op) - covered(op, job_iv(b, e)),
            "plan.s": sum(p["plan_ms"] for p in plans) / 1e3,
            "plan.exchanges": sum(p["exchanges"] for p in plans),
            "plan.nodes": sum(p["nodes"] for p in plans),
            "exec.span_s": dur(es),
            "exec.s": covered(es, job_iv(e)),
            "exec.self_s": dur(es) - covered(es, job_iv(e) + plan_iv),
            "exec.jobs": len(jobs_of.get(e, [])),
            "exec.tasks": ssum("tasks", e),
            "exec.task_s": ssum("task_ms", e) / 1e3,
            "exec.input_mb": ssum("input_bytes", e) / MB,
            "exec.input_rows": ssum("input_rows", e),
            "exec.shuffle_read_mb": ssum("shuffle_read_bytes", e) / MB,
            "exec.shuffle_write_mb": ssum("shuffle_write_bytes", e) / MB,
            "exec.spill_mb": ssum("spill_bytes", e) / MB,
            "exec.gc_s": ssum("gc_ms", e) / 1e3,
            "exec.tasks_failed": ssum("tasks_failed", e),
            "exec.stages_skipped": skipped(e),
            "exec.stages_run": len(stages_of.get(e, [])),
            "write.input_bytes": ssum("input_bytes", e),
            "write.output_bytes": ssum("output_bytes", b, e),
            "write.output_rows": ssum("output_rows", b, e)})
    return records


def per_layer(records, passes, ncpu):
    """Per-pass sums over the traced passes' op records; the median pass."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    rows = []
    for p in traced:
        rs = [r for r in records if r["pass"] == p["pass"]]
        tot = lambda k: sum(r[k] for r in rs)  # noqa: E731
        wall = sum(r["wall_s"] for r in rs)
        by_kind = lambda k: sum(r["wall_s"] for r in rs if r["kind"] == k)  # noqa: E731
        write_in = sum(r["write.input_bytes"] for r in rs
                       if r["kind"] in ("jobs.events_daily", "jobs.sketch_rollup", "jobs.history_append"))
        row = {k: tot(k) for k in [
            "build.s", "build.jobs", "build.stages", "build.tasks", "build.task_s",
            "build.shuffle_write_mb", "gap.s", "plan.s", "plan.exchanges", "plan.nodes",
            "exec.s", "exec.jobs", "exec.tasks", "exec.task_s", "exec.input_mb", "exec.input_rows",
            "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "exec.gc_s",
            "exec.tasks_failed"]}
        b_span, e_span = tot("build.s"), tot("exec.span_s")
        row["build.core_util"] = tot("build.task_s") / (b_span * ncpu) if b_span else 0.0
        row["exec.core_util"] = tot("exec.task_s") / (e_span * ncpu) if e_span else 0.0
        row["gap.frac"] = row["gap.s"] / wall if wall else 0.0
        ran = tot("exec.stages_run")
        row["exec.stages_skipped_frac"] = tot("exec.stages_skipped") / ran if ran else 0.0
        row["jobs.events_daily_s"] = by_kind("jobs.events_daily")
        row["jobs.sketch_rollup_s"] = by_kind("jobs.sketch_rollup")
        row["jobs.history_append_s"] = by_kind("jobs.history_append")
        row["jobs.read_s"] = by_kind("jobs.read")
        row["jobs.compact_s"] = by_kind("jobs.compact")
        row["jobs.files_written"] = p["parquet_files"] or 0
        row["jobs.bytes_written_mb"] = tot("write.output_bytes") / MB
        row["jobs.rows_written"] = tot("write.output_rows")
        row["stored_bytes_ratio"] = (p["stored_bytes"] / write_in) if (p["stored_bytes"] and write_in) else 0.0
        row["trace.pass_s"] = p["wall_s"]
        rows.append(row)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
    out["trace.overhead_s"] = (out["trace.pass_s"] - statistics.median(p["wall_s"] for p in untraced)
                               if rows and untraced else 0.0)
    return out


def layer_split(records, passes, wl):
    """The share of op time each prediction names, per query family:
    build + gap for driver programs, exec for the others; for ingest, the
    share of the pass its job calls account for."""
    def share(rs, keys):
        wall = sum(r["wall_s"] for r in rs)
        return sum(sum(r[k] for k in keys) for r in rs) / wall if wall else 0.0
    if "families" not in wl:
        traced = [p for p in passes if p["traced"]]
        return (f"ingest job calls {sum(r['wall_s'] for r in records) / sum(p['wall_s'] for p in traced):.3f}"
                " of pass time (predicted: the whole pass)")
    out = []
    for fam, ops in wl["families"].items():
        rs = [r for r in records if r["op"] in ops]
        if fam == "iterative":
            # gap inside the builder is build.self_s; count it once
            out.append(f"iterative build+gap {share(rs, ['build.s', 'gap.s']) - share(rs, ['build.self_s']):.2f}"
                       " (predicted >= 0.80)")
        else:
            out.append(f"{fam} exec {share(rs, ['exec.s']):.2f} (predicted >= 0.70)")
    return "; ".join(out)


def main():
    # SIGTERM unwinds like an exception, so the JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ["BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("tools", "check.py")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    wl = WORKLOADS[a.workload]
    work = os.path.join(HERE, "work")
    run_dir = os.path.join(work, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    classpath, java_options = build(os.path.join(work, "build.log"))

    data_dir = os.path.join(work, "data", f"{a.workload}-seed{a.seed}")
    if not os.path.exists(os.path.join(data_dir, "properties.json")):
        gen.generate(data_dir, a.seed, wl["keep"])
    props = json.load(open(os.path.join(data_dir, "properties.json")))
    event_days = props["event_days"][:wl.get("event_days", 0)]

    ncpu = cpus()
    result = os.path.join(run_dir, "result.json")
    trace_file = os.path.join(run_dir, "trace.jsonl")
    args = ["--workload", a.workload, "--data", data_dir, "--work", run_dir,
            "--seconds", a.seconds, "--warmup", wl["warmup"], "--trace", a.trace, "--cpus", ncpu,
            "--result", result, "--trace-file", trace_file]
    if a.workload == "ingest":
        args += ["--event-days", ",".join(event_days),
                 "--doc-days", wl["doc_days"]]
    else:
        args += ["--ops", ",".join(op for ops in wl["families"].values() for op in ops)]
    run_jvm(classpath, java_options, run_dir, args)
    res = json.load(open(result))

    # Correctness: oracle comparisons on the dump made after the timed
    # passes, and results without an oracle must not change between the
    # warm-up and the end.
    check_dir = os.path.join(run_dir, "check")
    if a.workload == "ingest":
        wrong = oracle.check_ingest(data_dir, check_dir, event_days, props["rows"]["documents"])
    else:
        wrong = oracle.check_queries(ROOT, data_dir, check_dir)
    wrong.update({k: f"failed outside the timed passes: {v}" for k, v in res["untimed_failures"].items()})
    for k, v in res["digests_warm"].items():
        if res["digests_end"].get(k) != v:
            wrong[k] = "result changed between the warm-up and the last pass"

    passes = res["passes"]
    ops = [o for p in passes for o in p["ops"]]
    # An op that raised in a timed pass is a wrong result too: its pass
    # stopped early and must neither count as correct nor look fast.
    for o in ops:
        if o["error"] is not None:
            wrong.setdefault(o["name"], f"failed in a timed pass: {o['error']}")
    attempted = len(ops)
    failed = sum(1 for o in ops if any(o["name"] == k or o["name"].startswith(k + ":") for k in wrong))
    for k, v in sorted(wrong.items()):
        print(f"perfbench: WRONG {k}: {v}", file=sys.stderr)

    # times come only from passes in which every op succeeded
    untraced = [p for p in passes if not p["traced"] and all(o["error"] is None for o in p["ops"])]
    lat = [o["s"] for p in untraced for o in p["ops"]]
    if not lat:
        fail("no untraced timed pass completed without a failed op")
    tail, pct, n = tail_percentile(lat)
    print(f"perfbench: {a.workload} seed {a.seed}: {len(passes)} passes, {attempted} ops, "
          f"{failed} failed; op_tail_s is p{pct:.1f} of {n} op samples; setup {res['setup_s']:.1f} s, "
          f"of which session start {res['session_s']:.1f} s; "
          f"scheduler ERROR lines in the whole run {res['error_lines_run']}; "
          f"inputs {json.dumps(props['rows'])}; run dir {os.path.relpath(run_dir, ROOT)}")

    if a.trace == 0:
        values = {
            "setup_s": res["setup_s"],
            "pass_s": statistics.median(p["wall_s"] for p in untraced),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail,
            "heap_peak_mb": max(p["heap_mb"] for p in untraced),
        }
    else:
        records = layer_records(load_trace(trace_file))
        with open(os.path.join(run_dir, "layers.jsonl"), "w") as f:
            for r in records:
                f.write(json.dumps(dict(r, workload=a.workload, seed=a.seed)) + "\n")
        values = per_layer(records, passes, ncpu)
        values["driver.error_lines"] = statistics.mean(p["error_lines"] for p in passes)
        values["failed_frac"] = failed / attempted
        print("perfbench: traced layer split: " + layer_split(records, passes, wl))

    # BENCHMARK.json names the metrics each mode prints, with their units.
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer" if a.trace else "end_to_end"]
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}}))
    sys.exit(0 if not wrong else 1)


if __name__ == "__main__":
    main()
