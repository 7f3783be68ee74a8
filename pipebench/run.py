#!/usr/bin/env python3
"""Benchmark of the reference pipeline and the engine's query mixes.

Usage, from the repository root:
    python3 pipebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source when needed (`build.py`), generates the
workload's inputs from the seed (`gen.py`), runs the workload in one Spark JVM
(`src/pipebench/Main.scala`), checks every output outside the timed region
(`check.py`) and prints each metric by name with its unit. The last line of
standard output is one JSON object: with `--trace 0` it carries the
end-to-end metrics, with `--trace 1` the per-layer ones. NOTES.md records
why each workload exists and which layer metric should move which end-to-end
metric.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# execution-bound queries (ops, operators), then build-bound ones (streaming,
# sources); the per-layer metrics keep the two apart
QUERY_MIX = ["q_flatten", "q_copurchase", "q_img_dedup", "q_sql_q9",
             "q_stream_join", "q_audit_optimize", "q_audit_dpp"]

# settle: untimed passes after the cold one, until pass times stop falling
WORKLOADS = {
    "pipeline_daily": dict(days=2, plays=50, settle=1),
    "query_mix": dict(sf=0.02, queries=QUERY_MIX, settle=2),
}
MODULES = ["ops", "operators", "streaming", "sources"]
ETL_LAYERS = ["etl.clean.build", "etl.clean.write", "etl.curate", "etl.publish"]
COUNTERS = [("jobs", "count"), ("tasks", "count"), ("task_cpu_s", "s"),
            ("shuffle_write_bytes", "bytes"), ("gc_s", "s")]
END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("op_p50_s", "s"), ("heap_peak_mb", "MB")]
# printed with the end-to-end metrics but not in the result line: a pass has
# two to four ops, so p95 is just the slowest op; failures are the result's
# `failed` / `attempted`
PRINTED = [("op_p95_s", "s"), ("failed_frac", "ratio")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in report order."""
    out = []
    for layer in ETL_LAYERS:
        out.append((layer + "_s", "s"))
        out += [(f"{layer}.{c}", u) for c, u in COUNTERS]
    out += [("etl.publish.growth", "ratio"), ("etl.publish.appended_ratio", "ratio"),
            ("zone.clean_bytes", "bytes"), ("zone.curated_bytes", "bytes"),
            ("zone.warehouse_bytes", "bytes"), ("stored_bytes_per_input_byte", "ratio")]
    for m in MODULES:
        out += [(f"{m}.build_s", "s"), (f"{m}.plan_s", "s"), (f"{m}.exec_s", "s")]
        out += [(f"{m}.{c}", u) for c, u in COUNTERS[:4]]
        out += [(f"{m}.spill_bytes", "bytes"), (f"{m}.gc_s", "s")]
    out += [("core_util", "ratio"), ("streaming.batches", "count"),
            ("streaming.add_batch_s", "s"), ("streaming.state_commit_s", "s"),
            ("streaming.state_rows", "count"), ("failed_frac", "ratio"),
            ("trace.overhead_s", "s"), ("trace.harness_s", "s"),
            ("trace.unaccounted_frac", "ratio")]
    return out


JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


# a fixed heap and the throughput collector: no heap resizing or concurrent
# marking threads competing with the four task threads. No perf-data file in
# the system temp directory.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.startswith("."))
    return total


def run_jvm(classes, workload, data, work, args, deadline):
    out = os.path.join(work, "result.json")
    cmd = ["java", *JVM_OPENS, *JVM_FLAGS, f"-Djava.io.tmpdir={work}/tmp",
           "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
           "pipebench.Main", "--workload", workload, "--data", data, "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
           "--settle", str(WORKLOADS[workload]["settle"])]
    if "queries" in WORKLOADS[workload]:
        cmd += ["--queries", ",".join(WORKLOADS[workload]["queries"])]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        try:
            code = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work,
                                  timeout=max(10.0, deadline - time.monotonic())).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"pipebench: the workload JVM failed ({code})")
    with open(out) as f:
        res = json.load(f)
    spans = []
    if os.path.exists(out + ".spans.jsonl"):
        # kept next to the build for inspection; the work directory goes
        shutil.copy(out + ".spans.jsonl", os.path.join(os.path.dirname(work),
                                                       f"spans-{workload}.jsonl"))
        with open(out + ".spans.jsonl") as f:
            spans = [json.loads(line) for line in f]
    return res, spans


def check_pipeline(res, days):
    """Marks failed days in place; returns mismatch messages."""
    con = check.duckdb.connect()
    bad = []
    for p in [res["warm"]] + res["passes"]:
        model, per_day = check.warehouse_model(days[:len(p["ops"])])
        for o, want in zip(p["ops"], per_day):
            got = o["detail"].get("appended")
            if "error" not in o and got != {t: a for t, (_, a) in want.items()}:
                o["error"] = f"appended {got}, model {want}"
        root = p["ops"][0]["detail"].get("root")
        msgs = check.check_warehouse(con, root, model) if root else ["no zone root"]
        if msgs:
            bad += msgs
            for o in p["ops"]:
                o.setdefault("error", msgs[0])
    return bad


def check_queries(res, data, work):
    oracle = check.oracle_rows(data, os.path.join(work, "results"), res.get("oracles", {}),
                               [o["name"] for o in res["warm"]["ops"]])
    bad = []
    for o in res["warm"]["ops"]:
        msg, _ = oracle[o["name"]]
        if msg and "error" not in o:
            o["error"] = msg
    for p in res["passes"]:
        for o in p["ops"]:
            want = oracle[o["name"]][1]
            if "error" not in o and o["detail"].get("rows") != want:
                o["error"] = f"{o['name']}: {o['detail'].get('rows')} rows, expected {want}"
    for p in [res["warm"]] + res["passes"]:
        bad += [f"{p['id']}: {o['error']}" for o in p["ops"] if "error" in o]
    return bad


def layer_metrics(res, spans, days, data):
    """Per-layer numbers from the traced passes (averaged when there are
    several) and from the zones of the last timed pass."""
    m = {n: 0.0 for n, _ in per_layer_names()}
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"] and not p["settle"]]
    k = len(traced)
    layer_self = 0.0
    for p in traced:
        own = stats.self_times([s for s in spans if s["run"] == p["id"]
                                or s["run"].startswith(p["id"] + "/")])
        c = p["counters"]
        for layer in ETL_LAYERS:
            m[layer + "_s"] += own.get(layer, 0.0) / k
            for name, _ in COUNTERS:
                m[f"{layer}.{name}"] += c.get(layer, {}).get(name, 0) / k
        for mod in MODULES:
            for ph in ("build", "plan", "exec"):
                m[f"{mod}.{ph}_s"] += own.get(f"{mod}.{ph}", 0.0) / k
            for name in ("jobs", "tasks", "task_cpu_s", "shuffle_write_bytes",
                         "spill_bytes", "gc_s"):
                m[f"{mod}.{name}"] += sum(v.get(name, 0) for layer, v in c.items()
                                          if layer.startswith(mod + ".")) / k
        run_s = sum(v.get("task_run_s", 0) for layer, v in c.items() if layer != "stream_progress")
        m["core_util"] += run_s / (p["wall_s"] * 4) / k
        for name in ("batches", "add_batch_s", "state_commit_s", "state_rows"):
            m[f"streaming.{name}"] += c.get("stream_progress", {}).get(name, 0) / k
        pub = [s for s in spans if s["name"] == "etl.publish" and s["run"].startswith(p["id"] + "/")]
        if pub:
            q = max(1, len(pub) // 4)
            dur = [s["end_ns"] - s["start_ns"] for s in sorted(pub, key=lambda s: s["start_ns"])]
            m["etl.publish.growth"] += sum(dur[-q:]) / sum(dur[:q]) / k
        m["trace.harness_s"] += (own.get("pass", 0.0) + own.get("op", 0.0)) / k
        layer_self += sum(v for n, v in own.items() if n not in ("pass", "op")) / k
    if traced and untraced:
        tw = statistics.median([p["wall_s"] for p in traced])
        m["trace.overhead_s"] = tw - statistics.median([p["wall_s"] for p in untraced])
        m["trace.unaccounted_frac"] = (tw - layer_self - m["trace.overhead_s"]) / tw
    if days is not None:
        _, per_day = check.warehouse_model(days)
        offered = sum(o for d in per_day for o, _ in d.values())
        appended = sum(a for d in per_day for _, a in d.values())
        m["etl.publish.appended_ratio"] = appended / offered
        root = untraced[-1]["ops"][0]["detail"]["root"]
        for zone, sub in (("clean", "01_clean_zone"), ("curated", "02_curated_zone"),
                          ("warehouse", "warehouse")):
            m[f"zone.{zone}_bytes"] = dir_bytes(os.path.join(root, sub))
        m["stored_bytes_per_input_byte"] = (
            m["zone.clean_bytes"] + m["zone.curated_bytes"] + m["zone.warehouse_bytes"]) \
            / dir_bytes(os.path.join(data, "landing"))
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.monotonic()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        print("pipebench: no program sources under src/main/scala/graft; "
              "run from the repository root", file=sys.stderr)
        return 2
    classes = build.ensure(root)
    deadline = time.monotonic() + 160  # the build above may take longer; runs may not
    work = os.path.join(build.build_dir(root), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return measure(args, classes, work, deadline, start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, classes, work, deadline, start):
    w = WORKLOADS[args.workload]
    data = os.path.join(work, "data")
    t0 = time.monotonic()
    if "queries" in w:
        gen.tables(data, args.seed, w["sf"])
        days = None
    else:
        days = gen.landing(os.path.join(data, "landing"), args.seed, w["days"], w["plays"])
    gen_s = time.monotonic() - t0
    t1 = time.monotonic()
    res, spans = run_jvm(classes, args.workload, data, work, args, deadline)
    t2 = time.monotonic()
    bad = check_pipeline(res, days) if days is not None else \
        check_queries(res, data, work)
    print(f"pipebench: generate {t1 - t0:.1f} s, workload JVM {t2 - t1:.1f} s, "
          f"output check {time.monotonic() - t2:.1f} s", file=sys.stderr)
    for b in bad[:20]:
        print(f"pipebench: FAILED {b}", file=sys.stderr)

    all_ops = [o for p in [res["warm"]] + res["passes"] for o in p["ops"]]
    failed = sum("error" in o for o in all_ops)
    untraced = [p for p in res["passes"] if not p["traced"] and not p["settle"]]
    # an op's latency is its median over the untraced passes; the percentiles
    # are taken across the ops of a pass
    by_op = {}
    for p in untraced:
        for o in p["ops"]:
            by_op.setdefault(o["name"], []).append(o["s"])
    lat = [statistics.median(v) for v in by_op.values()]
    e2e = {
        "setup_s": gen_s + statistics.median(res["session_s"]) + res["load_s"] + res["warmup_s"],
        "run_s": statistics.median([p["wall_s"] for p in untraced]),
        "op_p50_s": stats.percentile(lat, 50),
        "op_p95_s": stats.percentile(lat, 95),
        "heap_peak_mb": max(p["heap_mb"] for p in res["passes"] if not p["settle"]),
    }
    layers = layer_metrics(res, spans, days, data)
    layers["failed_frac"] = failed / len(all_ops)
    units = dict(END_TO_END + PRINTED + per_layer_names())
    timed = [p for p in res["passes"] if not p["settle"]]
    print(f"workload {args.workload}: seed {args.seed}, {len(timed)} timed passes "
          f"({len(untraced)} untraced, {len(lat)} ops each), {len(all_ops)} ops attempted, "
          f"{failed} failed; wall {time.monotonic() - start:.1f} s")
    for name, v in list(e2e.items()) + list(layers.items()):
        if name in e2e or args.trace or name in ("failed_frac", "stored_bytes_per_input_byte"):
            print(f"  {name} = {v:.6g} {units[name]}")
    chosen = layers if args.trace else {n: e2e[n] for n, _ in END_TO_END}
    print(json.dumps({
        "correct": failed == 0, "attempted": len(all_ops), "failed": failed,
        "metrics": {n: {"value": float(v), "unit": units[n]}
                    for n, v in chosen.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
