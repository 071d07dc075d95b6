#!/usr/bin/env python3
"""Benchmark of the ETL engine: three seeded closed-loop workloads.

Run one workload (from the root of a checkout):

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 10 --trace 0

The first run builds the engine and the benchmark from source with sbt
(into `target/`, `perfbench/target/` and `.bench_build/`); later runs reuse
the build while the sources are unchanged. The run prints a human-readable
summary on stderr and, as the last line of stdout, one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones. The
full record of every run is kept in `.bench_build/perfbench/results/`.
The exit code is 1 when an output check failed.

Compare two sets of runs (per workload, end-to-end metrics against the
bounds of BENCHMARK.json, then per-layer changes ranked):

    python3 perfbench/run.py compare --base A1.json A2.json --head B1.json B2.json
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("etl_ingest", "text_dedup", "table_commits")
RUN_LIMIT_S = 170          # a run, build excluded, ends within this
BUILD_LIMIT_S = 660        # with one run, under 900 s
TOP_CHANGES = 15           # per-layer changes compare prints per workload
HEAP = "2g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]

# the sources a build depends on, relative to the checkout root
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------- build


def sources_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    missing = [p for p in ("build.sbt", "src/main/scala") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a checkout of the engine (missing {', '.join(missing)}); "
             "run from the repository root")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    log("perfbench: building (sbt writeClasspath)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     BUILD_LIMIT_S, "build", cwd=HERE, env=env)
    if code != 0 or not os.path.exists(cp_file):
        fail("build failed", 1)
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file) as c:
        cp = c.read().strip()
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp


# --------------------------------------------------------------------- run


def run_group(cmd, timeout, what, **kw):
    """Run `cmd` in a process group of its own and wait for it; on timeout
    or interruption kill the whole group and wait, so nothing outlives the
    benchmark (sbt's launcher script, for one, starts a JVM under it)."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException as e:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"{what} exceeded {timeout} s", 1)
        raise


def jvm(cp, work):
    """The java command line every benchmark JVM starts with."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # no perf-data file in the system temp directory: runs write only
    # inside the checkout
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def run_jvm(cp, args, work, raw):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = jvm(cp, work) + ["perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", raw]
    code = run_group(cmd, RUN_LIMIT_S, "run")
    if code != 0 or not os.path.exists(raw):
        fail(f"benchmark JVM exited with {code}", 1)
    with open(raw) as f:
        return json.load(f)


# ----------------------------------------------------------------- metrics

END_TO_END = {  # name -> (unit, better)
    "setup_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "rows_per_s": ("1/s", "higher"),
    "op_p50_s": ("s", "lower"),
}

KERNELS = ("graft_shingles", "graft_minhash", "graft_jaccard_ge",
           "graft_bitset_jaccard", "graft_simhash", "graft_dot")

SPARK = [  # per-layer name, job field, scale to the reported unit
    ("spark.jobs", None, 1), ("spark.stages", "stages", 1),
    ("spark.tasks", "tasks", 1), ("spark.failed_tasks", "failed_tasks", 1),
    ("spark.scheduler_delay_s", "sched_ms", 1e-3),
    ("spark.executor_run_s", "run_ms", 1e-3),
    ("spark.executor_cpu_s", "cpu_ns", 1e-9), ("spark.gc_s", "gc_ms", 1e-3),
    ("spark.shuffle_write_bytes", "shuffle_write", 1),
    ("spark.shuffle_read_bytes", "shuffle_read", 1),
    ("spark.spill_bytes", "spill", 1), ("spark.input_bytes", "input", 1),
    ("spark.output_bytes", "output", 1)]

PER_LAYER = {  # name -> unit; times and counts are per traced op
    "bench.self_s": "s",
    "sources.self_s": "s", "sources.pages_fetched": "count",
    "sources.requests": "count", "sources.rows_out": "count",
    "etl.self_s": "s", "etl.rows_in": "count", "etl.rows_kept_ratio": "ratio",
    "warehouse.self_s": "s", "warehouse.rows_in": "count",
    "warehouse.rows_inserted": "count", "warehouse.insert_ratio": "ratio",
    "warehouse.files_written": "count", "warehouse.bytes_written": "B",
    "dedup.self_s": "s", "dedup.band_join_rows": "count",
    "dedup.verified_pairs": "count",
    **{f"functions.{k}_rows_per_s": "1/s" for k in KERNELS},
    "vtable.commit_self_s": "s", "vtable.read_self_s": "s", "vtable.compact_s": "s",
    "vtable.files_added": "count", "vtable.live_files": "count",
    "vtable.dvs_live": "count", "vtable.manifest_bytes": "B",
    "vtable.change_rows": "count", "vtable.bytes_written_per_change_row": "B",
    "vtable.commit_retries": "count",
    **{name: ("s" if name.endswith("_s") else "B" if name.endswith("_bytes") else "count")
       for name, _, _ in SPARK},
    "spark.job_wall_s": "s", "spark.driver_gap_s": "s", "spark.jobs_ungrouped": "count",
    "trace.overhead_ratio": "ratio", "trace.ops_per_s_traced": "1/s",
    "trace.ops_per_s_untraced": "1/s", "trace.accounting_residual_s": "s",
}


def latency(o):
    return (o["t1_ns"] - o["t0_ns"]) / 1e9


def ratio(num, den):
    return num / den if den else 0.0


def tail_entry(values):
    t = stats.tail(values)
    return None if t is None else {"value": t[0], "percentile": t[1], "samples": t[2]}


def end_to_end(rec):
    """The end-to-end metrics, plus the workload-specific figures the
    result file records beside them."""
    ops = rec["ops"]
    lat = [latency(o) for o in ops]
    busy = sum(lat)
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(latency(o))
    metrics = {
        "setup_s": rec["session_s"] + stats.median(rec["setup_repeats_s"]) + rec["warm_up_s"],
        "ops_per_s": ratio(len(ops), busy),
        "rows_per_s": ratio(sum(o["rows"] for o in ops), busy),
        # per-kind medians weighted by each kind's share of the op mix: a
        # plain median of a two-kind mix jumps between the kinds
        "op_p50_s": sum(len(v) * stats.median(v) for v in by_kind.values()) / max(1, len(ops)),
    }
    detail = {"peak_rss_mb": rec["peak_rss_mb"], "op_p50_all_s": stats.median(lat),
              "op_tail_s": tail_entry(lat), "ops_measured": len(ops),
              "failed_ratio": ratio(rec["failed"], rec["attempted"]),
              "failed_ratio_base": rec["attempted"]}
    for cls in ("write", "read"):
        xs = [latency(o) for o in ops if o["cls"] == cls]
        if xs:
            detail[f"{cls}_p50_s"] = stats.median(xs)
            detail[f"{cls}_tail_s"] = tail_entry(xs)
    end = rec["end_state"]
    for k in ("stored_bytes_per_row", "dedup_recall", "dedup_recall_base", "live_rows"):
        if k in end:
            detail[k] = end[k]
    detail["op_p50_s_by_kind"] = {k: stats.median(v) for k, v in by_kind.items()}
    return metrics, detail


def spans_and_jobs(rec):
    spans = [dict(id=s[0], parent=s[1], name=s[2], op=s[3], start=s[4], end=s[5])
             for s in rec["spans"]]
    off = rec["nano_minus_wall_ns"]
    fields = ["stages", "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
              "sched_ms", "shuffle_write", "shuffle_read", "spill", "input", "output"]
    jobs = []
    for j in rec["jobs"]:
        d = dict(id=j[0], group=j[1], start=j[2] * 1000000 + off,
                 end=(j[3] if j[3] >= 0 else j[2]) * 1000000 + off)
        d.update(zip(fields, j[4:]))
        jobs.append(d)
    return spans, jobs


def spark_totals(jobs):
    out = {name: 0.0 for name, _, _ in SPARK}
    for j in jobs:
        for name, field, scale in SPARK:
            out[name] += 1 if field is None else j[field] * scale
    out["spark.job_wall_s"] = sum(j["end"] - j["start"] for j in jobs) / 1e9
    return out


def per_layer(rec):
    """Per-layer metrics over the traced ops, and the per-span detail."""
    spans, jobs = spans_and_jobs(rec)
    by_span = stats.attribute_jobs(spans, jobs)
    ungrouped = sum(1 for sid, js in by_span.items() for j in js
                    if sid is not None and not j["group"].startswith("pb-"))
    ops = [s for s in spans if s["name"] == "bench.op"]
    n = max(1, len(ops))
    acc = [stats.op_accounting(spans, by_span, s["id"]) for s in ops]
    in_ops = {i for s in ops for i in stats.subtree(spans, s["id"])}
    selfs = stats.self_times(spans)

    self_by_layer, by_name = {}, {}
    for s in spans:
        if s["id"] not in in_ops:
            continue
        layer = stats.layer_of(s["name"])
        self_by_layer[layer] = self_by_layer.get(layer, 0.0) + selfs[s["id"]] / 1e9
        e = by_name.setdefault(s["name"], {"spans": 0, "self_s": 0.0, "jobs": []})
        e["spans"] += 1
        e["self_s"] += selfs[s["id"]] / 1e9
        e["jobs"] += by_span.get(s["id"], [])
    op_jobs = [j for sid in in_ops for j in by_span.get(sid, [])]

    m = {k: 0.0 for k in PER_LAYER}
    for layer in ("bench", "sources", "etl", "warehouse", "dedup"):
        m[f"{layer}.self_s"] = self_by_layer.get(layer, 0.0) / n
    c = rec["counters"]
    for k in ("sources.pages_fetched", "sources.requests", "sources.rows_out",
              "etl.rows_in", "warehouse.rows_in", "warehouse.rows_inserted",
              "warehouse.files_written", "warehouse.bytes_written",
              "dedup.band_join_rows", "dedup.verified_pairs", "vtable.change_rows"):
        m[k] = c.get(k, 0.0) / n
    m["etl.rows_kept_ratio"] = ratio(c.get("etl.rows_kept", 0), c.get("etl.rows_in", 0))
    m["warehouse.insert_ratio"] = ratio(c.get("warehouse.rows_inserted", 0),
                                        c.get("warehouse.rows_in", 0))
    for k in KERNELS:
        m[f"functions.{k}_rows_per_s"] = rec["kernels_rows_per_s"].get(k, 0.0)
    for key, span in (("vtable.commit_self_s", "vtable.commit"),
                      ("vtable.read_self_s", "vtable.read"),
                      ("vtable.compact_s", "vtable.compact")):
        e = by_name.get(span)
        m[key] = e["self_s"] / e["spans"] if e else 0.0
    m["vtable.files_added"] = ratio(c.get("vtable.files_added", 0), c.get("vtable.commits", 0))
    m["vtable.bytes_written_per_change_row"] = ratio(c.get("vtable.bytes_added", 0),
                                                     c.get("vtable.change_rows", 0))
    end = rec["end_state"]
    for k in ("vtable.live_files", "vtable.dvs_live", "vtable.manifest_bytes",
              "vtable.commit_retries"):
        m[k] = end.get(k, 0.0)
    for k, v in spark_totals(op_jobs).items():
        m[k] = v / n
    m["spark.driver_gap_s"] = sum(a["driver_gap"] for a in acc) / 1e9 / n
    m["spark.jobs_ungrouped"] = ungrouped / n
    m["trace.accounting_residual_s"] = max(
        (abs(a["wall"] - sum(a["self_by_name"].values())) / 1e9 for a in acc), default=0.0)
    m.update(overhead(rec["ops"], rec["cycle"]))

    detail = {
        "traced_ops": len(ops),
        "spans_by_name": {k: dict(spans=v["spans"], self_s=v["self_s"],
                                  **spark_totals(v["jobs"])) for k, v in by_name.items()},
        "ops": [dict(op=s["op"], wall_s=a["wall"] / 1e9,
                     jobs_covered_s=a["jobs_covered"] / 1e9,
                     driver_gap_s=a["driver_gap"] / 1e9,
                     self_s={k: v / 1e9 for k, v in a["self_by_name"].items()})
                for s, a in zip(ops, acc)],
        "counters": c,
        "bases": {"etl.rows_kept_ratio": c.get("etl.rows_in", 0),
                  "warehouse.insert_ratio": c.get("warehouse.rows_in", 0),
                  "vtable.files_added": c.get("vtable.commits", 0),
                  "vtable.bytes_written_per_change_row": c.get("vtable.change_rows", 0)},
    }
    return m, detail


def overhead(ops, cycle):
    """Tracing overhead: each traced op against the untraced ops one cycle
    before and after it (same position in the op mix), as a latency ratio;
    and the throughput of traced and untraced ops."""
    by_i = {o["i"]: o for o in ops}
    ratios = []
    for o in ops:
        if not o["traced"]:
            continue
        nb = [by_i[j] for j in (o["i"] - cycle, o["i"] + cycle)
              if j in by_i and not by_i[j]["traced"]]
        if nb:
            ratios.append(latency(o) / (sum(latency(x) for x in nb) / len(nb)))
    out = {"trace.overhead_ratio": stats.median(ratios) if ratios else 0.0}
    for flag, key in ((True, "trace.ops_per_s_traced"), (False, "trace.ops_per_s_untraced")):
        xs = [latency(o) for o in ops if o["traced"] == flag]
        out[key] = ratio(len(xs), sum(xs))
    return out


def contention(rec):
    """Flag a run whose host-contention sentinel moved: the all-core spin
    much slower than the single-thread one, or either spin slower after
    the run than before it."""
    b, a = rec["sentinel"]["before"], rec["sentinel"]["after"]
    worst = max(b["multi_s"] / b["single_s"], a["multi_s"] / a["single_s"],
                a["single_s"] / b["single_s"], a["multi_s"] / b["multi_s"])
    return {"before": b, "after": a, "worst_ratio": worst, "contended": worst > 1.3}


# -------------------------------------------------------------------- main


def run(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    raw_path = os.path.join(results, f"{tag}.raw.json")
    try:
        rec = run_jvm(cp, args, work, raw_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, detail = end_to_end(rec)
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "seconds": args.seconds, "correct": rec["correct"],
               "attempted": rec["attempted"], "failed": rec["failed"],
               "errors": rec["errors"], "checks": rec["checks"],
               "params": rec["params"], "cores": rec["cores"],
               "contention": contention(rec), "end_to_end": e2e, "detail": detail,
               "setup": {"session_s": rec["session_s"],
                         "state_repeats_s": rec["setup_repeats_s"],
                         "warm_up_s": rec["warm_up_s"]}}
    if args.trace:
        layers, layer_detail = per_layer(rec)
        summary["per_layer"] = layers
        summary["trace"] = layer_detail
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in e2e.items()}
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)

    log(f"perfbench: {args.workload} seed {args.seed}: {len(rec['ops'])} ops in "
        f"{rec['loop_s']:.1f} s, correct={rec['correct']}")
    for k, v in sorted(metrics.items()):
        log(f"  {k:40s} {v['value']:.6g} {v['unit']}")
    for err in rec["errors"]:
        log(f"  check failed: {err}")
    if summary["contention"]["contended"]:
        log(f"  host contention: sentinel moved by x{summary['contention']['worst_ratio']:.2f}")
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}), flush=True)
    return 0 if rec["correct"] else 1


def compare(args):
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except FileNotFoundError:
        bench = {"end_to_end": [], "per_layer": []}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    def load(paths):
        out = {}
        for p in paths:
            for f in glob.glob(p):
                with open(f) as fh:
                    s = json.load(fh)
                w = out.setdefault(s["workload"], {"e2e": {}, "layer": {}, "host": [],
                                                   "moved": []})
                w["host"].append(s["contention"]["before"]["single_s"])
                w["moved"].append(s["contention"]["worst_ratio"] - 1)
                part, key = ("layer", "per_layer") if s["trace"] else ("e2e", "end_to_end")
                for k, v in s[key].items():
                    w[part].setdefault(k, []).append(v)
        return out

    base, head = load(args.base), load(args.head)
    worst = 0
    for wl in sorted(set(base) & set(head)):
        # the sentinel's single-thread spin: a slower host shows here too
        hb, hh = stats.median(base[wl]["host"]), stats.median(head[wl]["host"])
        shift = max(abs(hh / hb - 1), stats.median(base[wl]["moved"]),
                    stats.median(head[wl]["moved"]))
        print(f"== {wl}  (host sentinel {hb:.3f} s -> {hh:.3f} s, {100 * (hh / hb - 1):+.0f}%; "
              f"moved by up to {100 * shift:.0f}%)")
        for r in stats.compare(base[wl]["e2e"], head[wl]["e2e"], bounds, better, shift):
            print(f"  {r['metric']:28s} base {r['base']:.6g}  head {r['head']:.6g}  "
                  f"worse by {100 * r['worse_by']:+.1f}%  bound {r['bound']}  "
                  f"spread {100 * r['base_spread']:.1f}%  {r['verdict']}")
            worst = max(worst, r["verdict"] == "regression")
        changes = stats.rank_changes(base[wl]["layer"], head[wl]["layer"])
        if changes:
            print("  per-layer changes, largest first:")
            for r in changes[:TOP_CHANGES]:
                print(f"    {r['metric']:40s} {r['base']:.6g} -> {r['head']:.6g} "
                      f"({100 * r['change']:+.1f}%)")
    return 1 if worst else 0


def main(argv):
    if argv[:1] == ["compare"]:
        ap = argparse.ArgumentParser(prog="run.py compare")
        ap.add_argument("--base", nargs="+", required=True, help="result files (globs)")
        ap.add_argument("--head", nargs="+", required=True, help="result files (globs)")
        return compare(ap.parse_args(argv[1:]))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
