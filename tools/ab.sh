#!/usr/bin/env bash
# Paired A/B timing of registered queries between two revisions.
#
#   tools/ab.sh <parentRev> <changeRev> <row>... [--pairs N]
#
# Each revision is exported (git archive) into its own directory under
# $AB_DIR (default ${TMPDIR:-/tmp}/graft-ab) and built once with sbt in
# offline mode; a revision already built there is reused. Then, for
# every row, N pairs (default 10) of graft.TimeQuery runs alternate the
# two builds, and alternate which side runs first. One run is one JVM:
# one untimed warmup that caches the tables the row reads, 3 timed
# reps; the run's time is the median of its reps.
#
# For each row it prints both medians, the parent's interquartile range
# and how many pairs the change won (ties count for neither side). The
# verdict is "gain" only when the change wins at least 9 of every 10
# pairs AND the parent's median exceeds the change's by more than the
# parent's IQR; anything else is "unresolved".
#
# Environment: AB_SF_DIR (default $HOME/testdata/sf0.01) is the input
# directory; SPARK_DRIVER_MEM (default 8g) the heap; SPARK_GRAFT_CPUS
# the cores, as for every entry point.
set -euo pipefail

usage() {
  echo "usage: $0 <parentRev> <changeRev> <row>... [--pairs N]" >&2
  exit 2
}

pairs=10
args=()
while [ $# -gt 0 ]; do
  case "$1" in
    --pairs) [ $# -ge 2 ] || usage; pairs=$2; shift 2 ;;
    *) args+=("$1"); shift ;;
  esac
done
[ ${#args[@]} -ge 3 ] || usage
[[ "$pairs" =~ ^[1-9][0-9]*$ ]] || usage

cd "$(git rev-parse --show-toplevel)"
parent=$(git rev-parse --verify "${args[0]}^{commit}")
change=$(git rev-parse --verify "${args[1]}^{commit}")
rows=("${args[@]:2}")
workdir=${AB_DIR:-${TMPDIR:-/tmp}/graft-ab}
sfdir=${AB_SF_DIR:-$HOME/testdata/sf0.01}
[ -d "$sfdir" ] || { echo "no input directory $sfdir (set AB_SF_DIR)" >&2; exit 2; }

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

# build <sha>: export and compile the revision once; its runtime
# classpath lands in <dir>/classpath.txt
build() {
  local dir="$workdir/$1"
  if [ ! -s "$dir/classpath.txt" ]; then
    echo "building ${1:0:12} in $dir" >&2
    rm -rf "$dir"
    mkdir -p "$dir"
    git archive "$1" | tar -x -C "$dir"
    (cd "$dir" && sbt --batch -Dsbt.log.noformat=true compile \
        "export Runtime/fullClasspath" > build.log 2>&1) ||
      { echo "build of ${1:0:12} failed: $dir/build.log" >&2; exit 1; }
    grep -E '^[^[].*/classes' "$dir/build.log" | tail -n 1 > "$dir/classpath.txt"
  fi
}
build "$parent"
build "$change"

# the JVM flags of build.sbt's javaOptions (Spark on JDK 17)
jvm=(-Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC
  "-Xmx${SPARK_DRIVER_MEM:-8g}")
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  jvm+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

# run <sha> <row>: one TimeQuery JVM; prints the median of its reps
run() {
  local out
  out=$(java "${jvm[@]}" -cp "$(cat "$workdir/$1/classpath.txt")" \
      graft.TimeQuery "$sfdir" "$2" 3 2>"$workdir/run.log" | grep '"reps"' | tail -n 1) ||
    { echo "TimeQuery $2 failed at ${1:0:12}" >&2; exit 1; }
  python3 -c 'import json, statistics, sys
print(statistics.median(json.loads(sys.argv[1])["reps"]))' "$out"
}

printf '%-32s %10s %10s %10s %6s  %s\n' row parent_p50 change_p50 \
  parent_iqr wins verdict
for row in "${rows[@]}"; do
  ps=()
  cs=()
  for ((i = 0; i < pairs; i++)); do
    if ((i % 2 == 0)); then
      ps+=("$(run "$parent" "$row")")
      cs+=("$(run "$change" "$row")")
    else
      cs+=("$(run "$change" "$row")")
      ps+=("$(run "$parent" "$row")")
    fi
    echo "  $row pair $((i + 1)): parent ${ps[i]} s, change ${cs[i]} s" >&2
  done
  python3 - "$row" "${ps[*]}" "${cs[*]}" <<'EOF'
import statistics, sys
row, ps, cs = sys.argv[1], list(map(float, sys.argv[2].split())), \
    list(map(float, sys.argv[3].split()))
n = len(ps)
wins = sum(c < p for p, c in zip(ps, cs))
mp, mc = statistics.median(ps), statistics.median(cs)
if n >= 2:
    q1, _, q3 = statistics.quantiles(ps, n=4, method="inclusive")
    iqr = q3 - q1
else:
    iqr = float("inf")
gain = wins * 10 >= 9 * n and mp - mc > iqr
print(f"{row:32s} {mp:10.3f} {mc:10.3f} {iqr:10.3f} {wins:3d}/{n:<2d}  "
      f"{'gain' if gain else 'unresolved'}")
EOF
done
