#!/usr/bin/env python3
"""graft benchmark: one seeded workload in one local Spark JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. Builds the program and the benchmark first
(perfbench/build.py), runs the workload at local[<cores>], checks its
outputs, and prints one `metric <name> <value> <unit>` line per figure and,
last, one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics; --trace 1 is the separate traced
run and reports the per-layer metrics. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402
import build  # noqa: E402

# crawl-rounds runs, but is not one of BENCHMARK.json's workloads (README.md)
WORKLOADS = ["frontier-burst", "warc-roundtrip", "webtext-board", "crawl-rounds"]
END_TO_END = [("items_per_s", "items/s"), ("op_s_p50", "s"), ("setup_s", "s"),
              ("peak_rss_mb", "MB")]
BOARD_QUERIES = ["q01", "q04", "f03", "d01", "s01", "t01", "m01", "x01"]
# every traced run reports all of these; one whose layer the workload does
# not call reads 0
PER_LAYER = (
    ["codec.warc_parse_digest_mb_per_s", "codec.http_decode_mb_per_s",
     "codec.spool_large_mb_per_s", "codec.warc_serialize_gzip_mb_per_s",
     "codec.warc_serialize_zstd_mb_per_s", "codec.url_normalize_ns",
     "functions.url_normalize_ns_row", "functions.seen_contains_ns_row",
     "functions.http_extract_text_ns_row", "functions.sha1_base32_ns_row",
     "functions.minhash_sig_ns_row",
     "operators.canonicalize_s", "state.filter_unseen_s", "operators.schedule_s",
     "state.unseen_frac", "operators.scheduled_frac", "operators.hot_host_share",
     "state.seen_banks", "state.seen_bank_mb",
     "sources.write_pages_s", "sources.gzip_ratio", "sources.zstd_ratio",
     "sources.read_records_s", "sources.records_to_pages_s",
     "stages.jobs", "stages.tasks", "stages.task_cpu_s", "stages.gc_s",
     "stages.scheduler_wait_s", "stages.shuffle_write_mb", "stages.shuffle_read_mb",
     "stages.spill_mb", "stages.input_mb"]
    + [f"board.{q}_s" for q in BOARD_QUERIES]
    + [f"board.family_{f}_s" for f in benchlib.BOARD_FAMILIES]
    + ["board.jobs_per_query"])
UNITS = {"_mb_per_s": "MB/s", "_ns_row": "ns/row", "_ns": "ns", "_mb": "MB",
         "_mb_per_round": "MB", "_s": "s", "_frac": "ratio", "_ratio": "ratio",
         "_share": "ratio", "_growth": "ratio", "_byte": "ratio"}
# a run must end within 180 s, not counting a build it had to do first
RUN_LIMIT_S = 170


def unit_of(name):
    for suffix in sorted(UNITS, key=len, reverse=True):
        if name.endswith(suffix):
            return UNITS[suffix]
    return "count"


def host_meta(cores):
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    limit = None
    for p in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(p) as f:
                v = f.read().strip()
            limit = None if v == "max" or int(v) > mem["MemTotal"] else int(v)
            break
        except (OSError, ValueError):
            continue
    return {"nproc": cores, "mem_total_mb": mem["MemTotal"] >> 20,
            "mem_limit_mb": (limit or mem["MemTotal"]) >> 20}


def run_jvm(args, cp, flags, tier, cores, work, deadline):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ([build.java(), "-Xms3g", "-Xmx3g"] + flags + build.jvm_opts() + [
        "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), str(cores), work, out, tier])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM failed: {code}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    root = os.getcwd()
    cores = len(os.sched_getaffinity(0))
    try:
        cp, flags, tier = build.ensure(root, cores)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build failed: {e}")

    work = os.path.join(root, build.BUILD_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        launch = time.time()
        raw = run_jvm(args, cp, flags, tier, cores, work, launch + RUN_LIMIT_S)
        oracle_mismatch = {}
        if args.workload == "webtext-board":
            import oracle
            counts = oracle.row_counts(tier, raw["oracle_sql"])
            oracle_mismatch = oracle.mismatches(raw["rows"], counts)
            for q, err in raw["known_failures"].items():
                print(f"known-failure {q}: {err}")
        traces = os.path.join(root, build.BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "raw.json"), os.path.join(
            traces, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    except Exception as e:  # no result line on any failure
        sys.exit(f"run failed: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = raw["ops"]
    attempted = sum(o["attempted"] for o in ops)
    failed = sum(o["attempted"] for o in ops if not o["ok"] or o["name"] in oracle_mismatch)
    for o in ops:
        if o["error"]:
            print(f"op-error {o['name']}: {o['error']}")
    for q, (spark_n, oracle_n) in oracle_mismatch.items():
        print(f"oracle-mismatch {q}: spark {spark_n} rows, duckdb {oracle_n}")

    meta = dict(host_meta(cores), canary=raw["canary"], workload=args.workload,
                seed=args.seed, seconds=args.seconds, trace=args.trace, facts=raw["facts"],
                board_input="fixed sf0.1-size tier (perfbench.Tier), not seeded"
                if args.workload == "webtext-board" else None)
    print("meta " + json.dumps(meta, default=str))

    gated, named = benchlib.end_to_end(raw, launch)
    for name, (value, unit, samples) in named.items():
        line = f"metric {name} {value:.6g} {unit}"
        if samples:
            tail = benchlib.tail_percentile(samples)
            line += f" (n={len(samples)}" + (f", p{tail[0]:g}={tail[1]:.6g}" if tail else "") + ")"
        print(line)
    print(f"metric ops_failed_frac {failed / max(1, attempted):.6g} ratio (attempted={attempted})")
    if args.trace:
        layer = benchlib.per_layer(raw)
        for n in sorted(set(layer) - set(PER_LAYER)):
            print(f"metric {benchlib.check_name(n)} {layer[n]:.6g} {unit_of(n)}")
        metrics = {n: {"value": layer.get(n, 0.0), "unit": unit_of(n)} for n in PER_LAYER}
        # the traced run's own end-to-end figures: their difference from an
        # untraced run of the same seed is the tracing overhead
        print("traced-run " + " ".join(f"{k}={v:.6g}" for k, (v, _) in gated.items()))
    else:
        metrics = {n: {"value": gated[n][0], "unit": u} for n, u in END_TO_END}
    for n, m in metrics.items():
        print(f"metric {benchlib.check_name(n)} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
