#!/usr/bin/env bash
# Mechanical verification: regenerates every README-grade claim.
#   tools/verify.sh            # pytest + sf0.01 gate + bench
#   tools/verify.sh --full     # also the sf0.1 oracle gate and the CEP,
#                              # keyed-state and dbapi family gates at
#                              # three scales (slow)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
python -m pytest tests/ -q

echo "== oracle gate @ sf0.01 (the driver's scale) =="
python tools/compare.py /root/testdata/sf0.01 2>/dev/null | tail -1

if [[ "${1:-}" == "--full" ]]; then
  echo "== oracle gate @ sf0.1 (10x scale) =="
  python tools/compare.py /root/testdata/sf0.1 2>/dev/null | tail -1
  for sf in sf0.001 sf0.01 sf0.1; do
    echo "== CEP family gate (every NFA head) @ $sf =="
    python tools/compare.py "/root/testdata/$sf" @cep 2>/dev/null | tail -1
    echo "== keyed-state family gate (every head through streaming/keyed.py) @ $sf =="
    python tools/compare.py "/root/testdata/$sf" @stream 2>/dev/null | tail -1
    echo "== dbapi gate (every head through sources/dbapi.py) @ $sf =="
    python tools/compare.py "/root/testdata/$sf" @dbapi 2>/dev/null | tail -1
  done
fi

echo "== bench @ sf0.1 =="
python bench.py 2>/dev/null
