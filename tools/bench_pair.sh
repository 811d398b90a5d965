#!/usr/bin/env bash
# Paired same-window bench protocol: comparator / bench / comparator.
#
# The gate ratio (Spark total vs DuckDB total) has repeatedly moved 0.1-0.2x
# with machine state between rounds, so a bench number is only meaningful
# when its comparator was measured in the SAME window. This script pairs
# them by construction:
#
#   1. DuckDB comparator  -> tools/comparator_<sf>.json  (A)
#   2. graft.Bench        -> target/bench/bench_last.json (B, embeds A)
#   3. DuckDB comparator re-run, printed for drift check (A')
#
# If A and A' disagree by >10% the window was noisy — rerun. Usage:
#   tools/bench_pair.sh [sfDir] [oracleSqlJson]
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.1}"
ORACLE="${2:-/tmp/verify_out/oracle_sql.json}"
SF_NAME="$(basename "$SF_DIR")"
# graft.Bench writes its full record under the build output directory.
BENCH_LAST="target/bench/bench_last.json"

if [ ! -f "$ORACLE" ]; then
  echo "oracle json not found at $ORACLE — run graft.Verify first" >&2
  exit 1
fi

# Back up the last accepted pair: a noisy window must never clobber a
# banked measurement (it did, twice — the restore commit c8ca81c). On a
# >10% drift verdict the backups are restored and the noisy artifacts kept
# aside as *_noisy.json for inspection.
for f in "$BENCH_LAST" "tools/comparator_${SF_NAME}.json"; do
  [ -f "$f" ] && cp "$f" "$f.bak"
done
restore_on_noise() {
  for f in "$BENCH_LAST" "tools/comparator_${SF_NAME}.json"; do
    if [ -f "$f.bak" ]; then
      mv "$f" "${f%.json}_noisy.json" || true
      mv "$f.bak" "$f"
    fi
  done
}

# Pre-flight: a loaded host measures throttling, not the code. Informational
# only (the post-hoc comparator gates are authoritative), but saves a wasted
# 3-minute window when the box is visibly busy.
LOAD1=$(cut -d' ' -f1 /proc/loadavg)
if python3 -c "import sys; sys.exit(0 if float('$LOAD1') > 2.0 else 1)"; then
  echo "WARNING: load average $LOAD1 before the window — expect a noisy pair" >&2
fi

echo "== [A] comparator @$SF_DIR =="
python3 tools/comparator.py "$SF_DIR" "$ORACLE"
A_TOTAL=$(python3 -c "import json;print(json.load(open('tools/comparator_${SF_NAME}.json'))['total'])")

echo "== [B] graft.Bench @$SF_DIR =="
SPARK_GRAFT_SF_DIR="$SF_DIR" java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
  2> >(grep -E "\[bench\]" >&2 || true) | grep '{"metric"'

echo "== [A'] comparator drift check =="
python3 tools/comparator.py "$SF_DIR" "$ORACLE" >/dev/null
A2_TOTAL=$(python3 -c "import json;print(json.load(open('tools/comparator_${SF_NAME}.json'))['total'])")

B_TOTAL=$(python3 -c "import json;print(json.load(open('$BENCH_LAST'))['value'])")
# Drift gate: a drift-clean pair is banked as measured (the latest clean
# window, never a best-of selection); a noisy one restores the previous pair.
if python3 - "$A_TOTAL" "$A2_TOTAL" "$B_TOTAL" <<'EOF'
import sys
a, a2, b = map(float, sys.argv[1:4])
drift = abs(a - a2) / min(a, a2)
ratio = b / max(a, a2)
print(f"duckdb A={a:.3f}s A'={a2:.3f}s (drift {drift*100:.1f}%)  spark B={b:.3f}s  ratio(vs max)={ratio:.2f}x")
if drift > 0.10:
    print("WINDOW NOISY (comparator drifted >10%) — artifacts restored, rerun", file=sys.stderr)
    sys.exit(3)
EOF
then
  rm -f "$BENCH_LAST.bak" "tools/comparator_${SF_NAME}.json.bak"
else
  restore_on_noise
  exit 3
fi
