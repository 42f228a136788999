"""Metric helpers of the graft benchmark: order statistics, span self time,
Spark-job attribution, metric-name checks, and the reduction of one run's
raw samples (written by perfbench.Main) into its metrics."""
import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")


def check_name(name):
    """Metric names: a letter or digit, then up to 63 of [A-Za-z0-9_.-]."""
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of nothing")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank percentile, p in (0, 100]."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of nothing")
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def tail_percentile(xs, levels=(99.9, 99, 90)):
    """The highest percentile with at least ten samples beyond it, as
    (p, value), or None when there are too few samples."""
    for p in levels:
        if len(xs) * (100 - p) / 100 >= 10:
            return p, percentile(xs, p)
    return None


def _union(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = _union([(max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                          for c in kids.get(s["id"], []) if c["end_ms"] > lo and c["start_ms"] < hi])
        out[s["id"]] = (hi - lo - covered) / 1000.0
    return out


def site_of(frames):
    """Module a Spark job is charged to, from the program frames of its call
    site (innermost first): the first graft.* frame, except that nested
    state-layer calls count for the outermost one (Durable.pin committing
    through TableIO is Durable's). A job with no program frame on its call
    site (one the benchmark started, or one whose site Spark did not keep)
    is 'unattributed'."""
    if not frames:
        return "unattributed"
    first = frames[0]
    if first.startswith("graft.state."):
        for f in frames[1:]:
            if not f.startswith("graft.state."):
                break
            first = f
    return first[len("graft."):]


def attribute(jobs, start_ms, end_ms):
    """Split [start, end] among the Spark jobs running in it: each instant
    goes to the earliest-started running job's site, and instants with no
    job running go to 'driver'. The parts sum to the interval exactly."""
    events = []
    for j in jobs:
        s, e = max(j["start_ms"], start_ms), min(j["end_ms"], end_ms)
        if e > s:
            events.append((s, e, j["start_ms"], j["id"], site_of(j["frames"])))
    cuts = sorted({start_ms, end_ms} | {x for ev in events for x in ev[:2]})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        live = [ev for ev in events if ev[0] <= a and ev[1] >= b]
        site = min(live, key=lambda ev: (ev[2], ev[3]))[4] if live else "driver"
        out[site] = out.get(site, 0.0) + (b - a) / 1000.0
    return out


def _dur(op):
    return (op["end_ms"] - op["start_ms"]) / 1000.0


def end_to_end(raw, launch_epoch_s):
    """Gated metrics, identical in name and unit on every workload, plus the
    workload's own named figures (printed, not gated)."""
    ops = raw["ops"]
    durs = [_dur(o) for o in ops]
    facts = raw["facts"]
    prepares = [s["s"] for s in raw["setups_s"] if s["kind"] == "prepare"]
    warm = sum(s["s"] for s in raw["setups_s"] if s["kind"] == "warm")
    setup = raw["ready_ms"] / 1000.0 - launch_epoch_s + median(prepares) + warm
    wl = raw["workload"]
    named = {}
    if wl == "crawl-rounds":
        rate = facts["fetched"] / facts["crawl_wall_s"]
        p50 = median(durs)
        named["crawl_fetched_urls_per_s"] = (rate, "urls/s", None)
        named["crawl_round_s_p50"] = (p50, "s", durs)
    elif wl == "webtext-board":
        per_q = {}
        for o in ops:
            per_q.setdefault(o["name"], []).append(_dur(o))
        # per-query medians, so a run's figures do not depend on how many
        # passes fit its window
        q_medians = [median(v) for v in per_q.values()]
        rate = len(q_medians) / sum(q_medians)
        # the gated latency is the median pass over the board: the median
        # query alone is one or two sub-second queries, too few to be steady
        n = len(per_q)
        p50 = median([sum(_dur(o) for o in ops[i:i + n]) for i in range(0, len(ops), n)])
        named["board_s"] = (sum(q_medians), "s", None)
        named["board_query_s_p50"] = (median(q_medians), "s", q_medians)
    else:
        # the median op's rate, not items over summed time: one slow op (a
        # neighbour's burst on a shared host, a late JIT pass) moves a mean
        # but not a median
        rate = median([o["items"] / _dur(o) for o in ops])
        p50 = median(durs)
        if wl == "frontier-burst":
            named["frontier_urls_per_s"] = (rate, "urls/s", None)
            named["frontier_batch_s_p50"] = (p50, "s", durs)
        else:
            mb = facts["record_bytes_per_set"] * facts["sets"] * 2 / 1e6
            named["warc_write_mb_per_s"] = (mb / facts["write_s"], "MB/s", None)
            named["warc_read_mb_per_s"] = (mb / facts["read_s"], "MB/s", None)
    gated = {
        "items_per_s": (rate, "items/s"),
        "op_s_p50": (p50, "s"),
        "setup_s": (setup, "s"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
    }
    return gated, named


CRAWL_SITES = {"state.SeenStore": "seenstore", "state.TableIO": "tableio",
               "state.Durable": "durable", "state.DigestIndex": "digestindex"}
BOARD_FAMILIES = "dfmqstx"
# spans the benchmark records around calls into these modules
MODULE_SPANS = ("operators.", "state.", "sources.")


def per_layer(raw):
    """Per-layer metrics of a traced run: layer kernels, module span self
    times per op, Spark stage totals over the measured window, and the
    workload's own layer counts and ratios."""
    ops, facts, jobs, spans = raw["ops"], raw["facts"], raw["jobs"], raw["spans"]
    out = dict(raw["kernels"])
    n_ops = len(ops)
    lo = min(o["start_ms"] for o in ops)
    hi = max(o["end_ms"] for o in ops)
    window = [j for j in jobs if j["start_ms"] >= lo and j["end_ms"] <= hi]

    st = self_times(spans)
    for s in spans:
        if s["name"].startswith(MODULE_SPANS) and s["start_ms"] >= lo:
            key = s["name"] + "_s"
            out[key] = out.get(key, 0.0) + st[s["id"]] / n_ops

    out["stages.jobs"] = len(window)
    for key, field, scale in [("tasks", "tasks", 1), ("task_cpu_s", "cpu_s", 1),
                              ("gc_s", "gc_s", 1), ("scheduler_wait_s", "sched_s", 1),
                              ("shuffle_write_mb", "shuffle_write", 1e-6),
                              ("shuffle_read_mb", "shuffle_read", 1e-6),
                              ("spill_mb", "spill", 1e-6), ("input_mb", "input", 1e-6)]:
        out["stages." + key] = sum(j[field] for j in window) * scale

    wl = raw["workload"]
    if wl == "frontier-burst":
        out["state.unseen_frac"] = facts["rows_unseen"] / facts["rows_in"]
        out["operators.scheduled_frac"] = facts["rows_scheduled"] / facts["rows_unseen"]
        out["operators.hot_host_share"] = facts["hot_host_share"]
        out["state.seen_banks"] = facts["seen_banks"]
        out["state.seen_bank_mb"] = facts["seen_bank_bytes"] / 1e6
    elif wl == "crawl-rounds":
        rounds = [o for o in ops if o["name"] == "round"]
        parts = {}
        for r in rounds:
            for site, s in attribute(jobs, r["start_ms"], r["end_ms"]).items():
                name = CRAWL_SITES.get(site) or (
                    "driver" if site == "driver" else
                    "operators" if site.startswith("operators.") else "unattributed")
                parts[name] = parts.get(name, 0.0) + s
        n = len(rounds)
        for name in list(CRAWL_SITES.values()) + ["operators", "unattributed", "driver"]:
            out[f"crawl.{name}_s"] = parts.get(name, 0.0) / n
        out["crawl.round_jobs_s"] = sum(s for k, s in parts.items() if k != "driver") / n
        in_rounds = [j for j in jobs if any(r["start_ms"] <= j["start_ms"] < r["end_ms"] for r in rounds)]
        out["crawl.jobs_per_round"] = len(in_rounds) / n
        out["crawl.input_mb_per_round"] = sum(j["input"] for j in in_rounds) / 1e6 / n
        out["crawl.fetched_per_round"] = facts["fetched"] / len(facts["round_counters"])
        out["crawl.revisit_frac"] = facts["revisits"] / facts["fetched"]
        d = [_dur(r) for r in rounds[:len(facts["round_counters"])]]
        third = max(1, len(d) // 3)
        out["crawl.round_growth"] = median(d[-third:]) / median(d[:third])
        out["state.seen_banks"] = facts["seen_banks"]
        out["state.seen_bank_mb"] = facts["seen_bank_bytes"] / 1e6
        out["state.bytes_per_payload_byte"] = facts["state_bytes"] / facts["payload_bytes"]
    elif wl == "warc-roundtrip":
        out["sources.gzip_ratio"] = facts["gzip_ratio"]
        out["sources.zstd_ratio"] = facts["zstd_ratio"]
    elif wl == "webtext-board":
        per_q = {}
        for o in ops:
            per_q.setdefault(o["name"], []).append(_dur(o))
        for q, ds in per_q.items():
            out[f"board.{q.split('_')[0]}_s"] = median(ds)
            fam = f"board.family_{q[0]}_s"
            out[fam] = out.get(fam, 0.0) + median(ds)
        in_q = [j for j in jobs if any(o["start_ms"] <= j["start_ms"] < o["end_ms"] for o in ops)]
        out["board.jobs_per_query"] = len(in_q) / n_ops
    return out
