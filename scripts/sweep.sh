#!/usr/bin/env bash
# One-command correctness sweep at any scale factor:
#   scripts/sweep.sh <sfDirOrFactor> [jsonOut] [queries]
#
# If the first arg is a directory, it is used as the input tier directly
# (e.g. /root/testdata/sf0.1). If it is a number (e.g. 1, 0.5), the ten
# harness tables are synthesized at that factor via graft.tools.SfGen
# into /tmp/graft-sf<factor> (reused if already present). `queries` is a
# comma-separated list of query names; only those are dumped and compared.
#
# Pipeline: [SfGen] -> graft.Verify (Spark dumps every SparkEntry query +
# oracle_sql.json) -> scripts/check_oracle.py (DuckDB replays every oracle
# and compares rows/schema/value-hash). Exit 0 iff every query matches.
#
# Examples:
#   scripts/sweep.sh /root/testdata/sf0.01            # the driver's gate tier
#   scripts/sweep.sh 1 SWEEP_sf1.json                 # 100x-the-gate sweep
#   scripts/sweep.sh 0.1 "" f01_canonicalize,f16_url_surt  # two queries only
set -euo pipefail
cd "$(dirname "$0")/.."

arg="${1:?usage: sweep.sh <sfDirOrFactor> [jsonOut] [queries]}"
json="${2:-}"
only="${3:-}"

if [ -d "$arg" ]; then
  sfdir="$arg"
else
  sfdir="/tmp/graft-sf$arg"
  if [ ! -d "$sfdir" ]; then
    # SfGen's docScale is relative to sf0.1 (docScale 10 == sf1)
    scale=$(python3 -c "print(int(float('$arg') * 10))")
    echo "== synthesizing sf=$arg (docScale=$scale) into $sfdir"
    sbt -batch "runMain graft.tools.SfGen $sfdir $scale"
  fi
fi

out="/tmp/graft-sweep-$(basename "$sfdir")"
rm -rf "$out"
echo "== Spark dump: graft.Verify $sfdir -> $out"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" sbt -batch "runMain graft.Verify $sfdir $out${only:+ $only}"

echo "== DuckDB oracle compare"
python3 scripts/check_oracle.py "$sfdir" "$out" ${json:+"$json"}
