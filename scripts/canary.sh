#!/usr/bin/env bash
# Host-state canary: three fixed-work micro-measurements that bound how much
# of a bench-board delta is the MACHINE rather than the code. Run it next to
# any BENCH/SWEEP run and record the three numbers with the board.
#
#   cpu_single   loops/2s of a fixed integer loop on ONE process
#   cpu_allcore  per-process average of the same loop on one process per
#                usable core (os.sched_getaffinity)
#                (the all-core frequency + scheduler envelope; the ratio
#                 allcore/single is the sustained all-core factor)
#   disk_wr_mbps fdatasync-bounded sequential write MB/s to /tmp (checkpoint
#                and shuffle-spill writes ride this)
#
# Interpretation: Spark-parallel query walls track cpu_allcore and
# disk_wr_mbps; single-thread codec micros track cpu_single. A board whose
# queries inflate uniformly while the canary drops by the same factor is a
# host-state change, not a regression (see BASELINE.md "host-state" notes:
# a mid-round reboot inflated every untouched query by a median 1.23x).
set -euo pipefail

python3 - <<'EOF'
import time, multiprocessing as mp, subprocess, json, os

def spin(dur=2.0):
    t0 = time.perf_counter(); n = 0
    while time.perf_counter() - t0 < dur:
        x = 0
        for i in range(10000):
            x += i * i
        n += 1
    return n

if __name__ == "__main__":
    single = spin()
    cores = len(os.sched_getaffinity(0))
    with mp.Pool(cores) as p:
        allcore = sum(p.starmap(spin, [()] * cores)) / float(cores)
    # 1 GiB fdatasync-bounded sequential write
    t0 = time.perf_counter()
    subprocess.run(["dd", "if=/dev/zero", "of=/tmp/.canary_dd", "bs=1M",
                    "count=1024", "conv=fdatasync"],
                   check=True, capture_output=True)
    wr = 1024.0 / (time.perf_counter() - t0)
    os.unlink("/tmp/.canary_dd")
    print(json.dumps({
        "cpu_single": single,
        "cpu_allcore": round(allcore, 1),
        "allcore_ratio": round(allcore / single, 3),
        "disk_wr_mbps": round(wr, 1),
    }))
EOF
