#!/bin/sh
# Code lines of the Scala sources under the given files or directories:
# lines that are neither blank nor comment-only (`//` lines and `/* … */`
# blocks that open a line). Prints one count per file, then the total.
#
#   tools/code_lines.sh src/main/scala
#   tools/code_lines.sh src/main/scala/graft/SessionCache.scala src/main/scala/graft/operators
set -eu
if [ "$#" -eq 0 ]; then
  echo "usage: $0 PATH..." >&2
  exit 2
fi
find "$@" -type f -name '*.scala' | sort | while IFS= read -r f; do
  n=$(awk '{l=$0;sub(/^[ \t]+/,"",l)} l==""{next} b{if(l~/\*\//)b=0;next} l~/^\/\*/{if(l!~/\*\//)b=1;next} l~/^\/\//{next} {c++} END{print c+0}' "$f")
  printf '%7d %s\n' "$n" "$f"
done | awk '{print; t += $1} END {printf "%7d total\n", t}'
