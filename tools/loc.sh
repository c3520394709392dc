#!/usr/bin/env bash
# Line counts of the main Scala sources.
#
#   tools/loc.sh [file ...]
#
# Prints total lines and code lines of every src/main/**/*.scala, then
# the same two numbers for each named file. A code line is a line that
# is not blank and, after leading whitespace, does not start with `//`,
# `/*` or `*`. Run from anywhere inside the repository; with a
# revision checked out elsewhere (git archive), run that copy's script.
set -euo pipefail

cd "$(dirname "$0")/.."

count() { # files... -> "<lines> <code>"
  awk '
    { total++ }
    {
      line = $0
      sub(/^[ \t]+/, "", line)
      if (line == "" || line ~ /^\/\// || line ~ /^\/\*/ || line ~ /^\*/) next
      code++
    }
    END { printf "%d %d\n", total, code }
  ' "$@"
}

mapfile -t main < <(find src/main -name '*.scala' | sort)
read -r lines code < <(count "${main[@]}")
printf '%-60s %8s %8s\n' "" lines code
printf '%-60s %8d %8d\n' "src/main/**/*.scala (${#main[@]} files)" "$lines" "$code"
for f in "$@"; do
  read -r lines code < <(count "$f")
  printf '%-60s %8d %8d\n' "$f" "$lines" "$code"
done
