#!/usr/bin/env python3
"""graft's benchmark: one command, one JVM per run.

    python3 perfbench/run.py --workload api_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds graft from source when
needed (perfbench/build.py), generates its inputs from the seed
(perfbench/gen.py), starts one JVM that sets up and then measures for
`--seconds` (perfbench/src), checks every result (perfbench/check.py)
and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, from a run with a Spark listener and spans on.
A fuller report (input properties, per-op-kind tables, the span file,
tracing overhead) is written under `.bench_build/out/`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the run writes only under .bench_build
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

WORKLOADS = ("api_mix", "maintained_state")
API_SF = 0.1
STATE_SF = 0.01
# enough batch files that a --seconds 60 feed loop on a fast host
# does not run out (a batch takes 0.6-1.5 s)
FEED_STORES, FEED_ITEMS, FEED_BATCHES = 10, 1000, 120
LIFECYCLES = ("coreness", "coreness_signed", "bm25", "bm25_signed", "delete_cascade")
FEED_KINDS = ("feed_batch", "feed_compact")
# nominal share of each op kind, the weights of the per-layer means
KIND_WEIGHTS = {
    "api_mix": {op: share / 100 for op, share in gen.API_MIX},
    "maintained_state": {k: 1 / 7 for k in FEED_KINDS + LIFECYCLES},
}
RUN_LIMIT_S = 170  # a run must end within 180 s once built
WARM_ROUNDS = 2


def prepare_api(seed, data):
    counts = gen.gen_star(data, API_SF, seed,
                          ("region", "nation", "supplier", "part", "lineitem"))
    names = pq.read_table(f"{data}/part.parquet", columns=["p_name"])["p_name"].to_pylist()
    reqs = gen.gen_api_requests(seed, counts["part"], counts["supplier"], names)
    # warm-up: WARM_ROUNDS calls of every op, from a schedule of its own
    warm_sched = gen.gen_api_requests(seed + 1_000_003, counts["part"],
                                      counts["supplier"], names)
    warm = [[q for q in warm_sched if q["op"] == op][r]
            for r in range(WARM_ROUNDS) for op, _ in gen.API_MIX]
    for i, q in enumerate(warm):
        q["id"] = len(reqs) + i
    with open(f"{data}/requests.json", "w") as f:
        json.dump(reqs, f)
    with open(f"{data}/warmup.json", "w") as f:
        json.dump(warm, f)
    return {"sf": API_SF, "rows": counts}, {q["id"]: q for q in reqs + warm}


def prepare_state(seed, data):
    counts = gen.gen_star(data, STATE_SF, seed, ("lineitem", "documents", "embeddings"))
    counts["lineitem"] = gen.sample_fact_rows(data, seed)
    seed_files, batches = gen.gen_feed(seed, FEED_STORES, FEED_ITEMS, FEED_BATCHES)
    feed = f"{data}/feed"
    os.makedirs(f"{feed}/seed")
    os.makedirs(f"{feed}/pending")
    for s, body in enumerate(seed_files):
        with open(f"{feed}/seed/store_{s:04d}.json", "w") as f:
            f.write(body)
    listing = []
    for i, b in enumerate(batches):
        name = f"pending/b_{i:05d}.json"
        with open(f"{feed}/{name}", "w") as f:
            f.write(b["body"])
        listing.append({k: v for k, v in b.items() if k != "body"} | {"file": name})
    with open(f"{feed}/batches.json", "w") as f:
        json.dump(listing, f)
    return {"sf": STATE_SF, "fact_rows_dropped": 0.05, "rows": counts,
            "feed_stores": FEED_STORES, "feed_items_per_file": FEED_ITEMS,
            "feed_seed_rows": FEED_STORES * FEED_ITEMS,
            "feed_seed_bytes": sum(len(b) for b in seed_files)}, listing


def q(values, p):
    """Quantile by linear interpolation (p in [0, 1])."""
    s = sorted(values)
    if not s:
        return 0.0
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def weighted(workload, timed, value):
    """Mix-weighted mean of per-kind medians of `value(op)`: stable
    under the exact op prefix a run happens to complete."""
    w = KIND_WEIGHTS[workload]
    by_kind = {}
    for o in timed:
        v = value(o)
        if v is not None:
            by_kind.setdefault(o["kind"], []).append(v)
    tot = sum(w[k] for k in by_kind)
    return sum(w[k] * statistics.median(v) for k, v in by_kind.items()) / tot if tot else 0.0


def span_table(out_dir):
    """Per op: time in graft calls (non-spark children of the op span),
    in plan forcing and in collect."""
    path = f"{out_dir}/spans.jsonl"
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spans = [json.loads(x) for x in f if x.strip()]
    op_span = {s["id"]: s for s in spans if s["layer"] == "op"}
    per = {}
    for s in spans:
        parent = op_span.get(s["parent"])
        if parent is None:
            continue
        d = per.setdefault(parent["op"], {"call_ms": 0.0, "plan_ms": 0.0, "collect_ms": 0.0})
        ms = s["end_ms"] - s["start_ms"]
        if s["layer"] == "spark":
            d["plan_ms" if s["name"] == "plan" else "collect_ms"] += ms
        else:
            d["call_ms"] += ms
    return per


def round_kinds(workload):
    """The op kinds whose per-kind medians add up to `round_s`."""
    return [op for op, _ in gen.API_MIX] if workload == "api_mix" else list(LIFECYCLES)


def metrics_for(args, run, timed):
    # request ops: the API calls, or the feed batches (land -> visible)
    reqs = [o for o in timed if o["kind"] not in LIFECYCLES]
    lat = [o["ms"] for o in reqs]
    by_kind = {}
    for o in timed:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    c = run["counters"]
    window_s = c["window_ms"] / 1000
    e2e = {
        "setup_s": (run["session_s"] + run["setup_s"], "s"),
        "op_p50_ms": (q(lat, 0.50), "ms"),
        "op_p75_ms": (q(lat, 0.75), "ms"),
        "ops_per_s": (len(reqs) / (run["request_window_ms"] / 1000), "1/s"),
        "round_s": (sum(statistics.median(by_kind[k]) for k in round_kinds(args.workload)
                        if k in by_kind) / 1000, "s"),
    }
    if not args.trace:
        return e2e, {}
    per_op = c["per_op"]
    spans = span_table(args.out)

    def counter(key, scale=1.0):
        return lambda o: per_op[str(o["id"])][key] * scale

    def spanv(key):
        return lambda o: spans.get(o["id"], {}).get(key)

    wmean = lambda f: weighted(args.workload, timed, f)  # noqa: E731
    cpus = int(run["conf"]["spark.sql.shuffle.partitions"])
    win = c["window"]
    layer = {
        "graft.call_ms": (wmean(spanv("call_ms")), "ms"),
        "graft.plan_ms": (wmean(spanv("plan_ms")), "ms"),
        "graft.collect_ms": (wmean(spanv("collect_ms")), "ms"),
        "spark.jobs_per_op": (wmean(counter("jobs")), "count"),
        "spark.stages_per_op": (wmean(counter("stages")), "count"),
        "spark.tasks_per_op": (wmean(counter("tasks")), "count"),
        "spark.exec_run_ms_per_op": (wmean(counter("exec_run_s", 1e3)), "ms"),
        "spark.exec_cpu_ms_per_op": (wmean(counter("exec_cpu_s", 1e3)), "ms"),
        "spark.shuffle_read_kb_per_op": (wmean(counter("shuffle_read_mb", 1024)), "KiB"),
        "spark.shuffle_write_kb_per_op": (wmean(counter("shuffle_write_mb", 1024)), "KiB"),
        "spark.idle_frac": (1 - c["busy_ms"] / c["window_ms"], "frac"),
        "spark.core_util": (win["exec_run_s"] / (window_s * cpus), "frac"),
        "jvm.heap_peak_mb": (c["heap_peak_mb"], "MiB"),
        "jvm.gc_s": (c["gc_s"], "s"),
        "trace.op_p50_ms": (q(lat, 0.50), "ms"),
    }
    return e2e, layer


def detail(args, run, timed, props, batches):
    """The workload-specific report: per-kind medians, lifecycle phases,
    write amplification, layer self times."""
    kinds = sorted({o["kind"] for o in timed})
    per_op = run["counters"].get("per_op", {})
    spans = span_table(args.out)
    d = {"kinds": {}}
    for k in kinds:
        os_ = [o for o in timed if o["kind"] == k]
        row = {"n": len(os_), "p50_ms": q([o["ms"] for o in os_], 0.5)}
        if per_op:
            row["jobs"] = sorted({per_op[str(o["id"])]["jobs"] for o in os_})
            row["plan_ms"] = q([spans.get(o["id"], {}).get("plan_ms", 0) for o in os_], 0.5)
        d["kinds"][k] = row
    if args.workload == "api_mix":
        keys = [(o["kind"], json.dumps(props["requests"][o["req"]]["params"], sort_keys=True))
                for o in timed]
        d["repeated_request_share"] = 1 - len(set(keys)) / max(1, len(keys))
    # kinds round_s had to leave out: none succeeded in the timed window
    d["round_missing"] = [k for k in round_kinds(args.workload) if k not in kinds]
    if args.workload == "maintained_state":
        feed = [o for o in timed if o["kind"] in FEED_KINDS]
        landed = sum(o["landed_bytes"] for o in feed)
        feed_s = sum(o["ms"] for o in feed) / 1000
        d["feed"] = {
            "rows_per_s": len(feed) * FEED_ITEMS / max(feed_s, 1e-9),
            "fresh_p50_ms": q([o["fresh_ms"] for o in feed], 0.5),
            "fresh_p75_ms": q([o["fresh_ms"] for o in feed], 0.75),
            "redelivered_share": sum(b["redelivery"] for b in batches[:run["batches_landed"]])
            / max(1, run["batches_landed"]),
            "bytes_per_feed_file": landed / max(1, len(feed)),
            "state_mb": sum(os.path.getsize(os.path.join(r, f))
                            for r, _, fs in os.walk(os.path.dirname(run["state"]))
                            for f in fs if "landing" not in r) / 1048576,
        }
        per_op = run["counters"].get("per_op")
        if per_op:
            written = sum(per_op[str(o["id"])]["written_mb"] for o in feed) * 1048576
            d["feed"]["write_amp"] = written / max(1, landed)
        d["feed"]["batches"] = len(feed)
        d["feed"]["exhausted"] = run["feed_exhausted"]
        phases = {}
        for o in timed:
            for ph, v in (o.get("phases") or {}).items():
                phases.setdefault(o["kind"], {}).setdefault(ph, []).append(v)
        d["phases_s"] = {k: {ph: statistics.median(v) for ph, v in m.items()}
                         for k, m in phases.items()}
        warm = {}
        for o in run["ops"]:
            if o["warm"]:
                warm.setdefault(o["kind"], []).append(o["ms"])
        d["build_s"] = {k: (warm[k][0] - d["kinds"][k]["p50_ms"]) / 1000
                        for k in kinds if k in warm}
    if run.get("self_ms_by_layer"):
        d["self_ms_by_layer"] = run["self_ms_by_layer"]
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    os.chdir(build.ROOT)
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    args.out = os.path.join(build.BUILD, "out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(args.out, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(args.out)
    t0 = time.time()
    os.makedirs(data)
    prepare = prepare_api if args.workload == "api_mix" else prepare_state
    props, extra = prepare(args.seed, data)
    t_gen = time.time() - t0
    cpus = os.cpu_count() or 1
    cmd = build.java_cmd(classes) + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cpus), "--data", data, "--work", work, "--out", args.out]
    log_path = os.path.join(args.out, "jvm.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=RUN_LIMIT_S - (time.time() - t0)).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        print(f"perfbench: JVM exited with {rc}:\n{tail}", file=sys.stderr)
        return 1
    t_jvm = time.time() - t0 - t_gen
    with open(os.path.join(args.out, "run.json")) as f:
        run = json.load(f)

    state_err = None
    if args.workload == "api_mix":
        verdict = check.check_api(run, args.out, data, extra)
        props["requests"] = extra
    else:
        verdict = check.check_stream(run, args.out, data, LIFECYCLES)
        feed_verdict, state_err = check.check_feed(run, f"{data}/feed", extra,
                                                   FEED_KINDS + ("feed_seed",))
        verdict.update(feed_verdict)
    t_check = time.time() - t0 - t_gen - t_jvm
    timed = [o for o in run["ops"] if not o["warm"]]
    failed = [o for o in run["ops"] if verdict.get(o["id"])]
    for o in failed[:10]:
        print(f"perfbench: FAILED {o['kind']} op {o['id']}: {verdict[o['id']]}", file=sys.stderr)
    if state_err:
        print(f"perfbench: FAILED final state: {state_err}", file=sys.stderr)
    attempted = len(run["ops"]) + (1 if args.workload == "maintained_state" else 0)
    n_failed = len(failed) + (1 if state_err else 0)
    ok_timed = [o for o in timed if not verdict.get(o["id"])]
    e2e, layer = metrics_for(args, run, ok_timed)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "conf": run["conf"], "cpus": cpus,
        "inputs": {k: v for k, v in props.items() if k != "requests"},
        "session_s": run["session_s"], "workload_setup_s": run["setup_s"],
        "wall_s": {"generate": t_gen, "jvm": t_jvm, "check": t_check},
        "attempted": attempted, "failed": n_failed,
        "failed_frac": n_failed / attempted,
        "failures": [{"op": o["id"], "kind": o["kind"], "error": verdict[o["id"]]}
                     for o in failed] + ([{"op": "state", "error": state_err}] if state_err else []),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_layer": {k: v for k, (v, _) in layer.items()},
        "detail": detail(args, run, ok_timed, props, extra),
    }
    # tracing overhead: this traced run minus the untraced run of the
    # same workload and seed, when one is on record
    untraced = os.path.join(build.BUILD, "out", f"{args.workload}-s{args.seed}-untraced.json")
    if args.trace and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["end_to_end"]
        report["tracing_overhead"] = {k: report["end_to_end"][k] - base[k] for k in base}
    with open(os.path.join(args.out, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    if not args.trace:
        shutil.copy(os.path.join(args.out, "report.json"), untraced)
    metrics = layer if args.trace else e2e
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {args.workload} seed={args.seed} attempted={attempted} "
          f"failed={n_failed} report={os.path.relpath(args.out)}/report.json", file=sys.stderr)
    print(json.dumps({"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
