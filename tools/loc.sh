#!/usr/bin/env bash
# Non-blank, non-comment line counts of the Scala sources under
# src/main/scala, per file, at two revisions, and the total delta.
#
#   tools/loc.sh <revA> [<revB>]
#
# Without <revB> the second column counts the working tree. A line
# counts when it keeps a non-space character after /* ... */ blocks and
# // comments are stripped (a // preceded by ':' or '"' is kept, so
# URLs and string literals survive).
set -euo pipefail

if [ $# -lt 1 ] || [ $# -gt 2 ]; then
  echo "usage: $0 <revA> [<revB>]" >&2
  exit 2
fi
cd "$(git rev-parse --show-toplevel)"
revA=$1
revB=${2:-}

# list <rev>: the .scala files under src/main/scala at <rev> ("" = tree)
list() {
  if [ -n "$1" ]; then
    git ls-tree -r --name-only "$1" -- src/main/scala
  else
    git ls-files --cached --others --exclude-standard -- src/main/scala
  fi | grep '\.scala$' || true
}

# count <rev> <file>: its counted lines at <rev> ("" = tree), 0 if absent
count() {
  local src
  if [ -n "$1" ]; then
    src=$(git show "$1:$2" 2>/dev/null) || { echo 0; return; }
  else
    [ -f "$2" ] || { echo 0; return; }
    src=$(cat "$2")
  fi
  printf '%s\n' "$src" |
    perl -0777 -pe 's{/\*.*?\*/}{}gs; s{(^|[^:"])//[^\n]*}{$1}g' |
    grep -c '\S' || true
}

labelB=${revB:-tree}
printf '%8s %8s %7s  %s\n' "$revA" "$labelB" "delta" "file"
totalA=0
totalB=0
while read -r f; do
  a=$(count "$revA" "$f")
  b=$(count "$revB" "$f")
  totalA=$((totalA + a))
  totalB=$((totalB + b))
  printf '%8d %8d %+7d  %s\n' "$a" "$b" "$((b - a))" "$f"
done < <({ list "$revA"; list "$revB"; } | sort -u)
printf '%8d %8d %+7d  %s\n' "$totalA" "$totalB" "$((totalB - totalA))" "total"
