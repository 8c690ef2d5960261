#!/usr/bin/env bash
# Count src/main Scala lines: code and comments, per file and in total.
#   code    = a line that is neither blank nor starts with //, /* or *
#   comment = a line that starts (after indentation) with //, /* or *
# Usage: tools/src_loc.sh [repo-root]   (default: the repo this script is in)
# Output: "<code> <comments> <file>" per file, sorted by path, then
# "<code> <comments> total". Diff two runs for a change's line delta.
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
cd "$root"
find src/main -name '*.scala' | LC_ALL=C sort | while read -r f; do
  code=$(grep -cvE '^\s*$|^\s*(//|/\*|\*)' "$f" || true)
  comments=$(grep -cE '^\s*(//|/\*|\*)' "$f" || true)
  echo "$code $comments $f"
done | awk '{ c += $1; m += $2; print } END { print c, m, "total" }'
