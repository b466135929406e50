#!/bin/sh
# Code lines of the main tree: every line of src/main/scala/**/*.scala
# that is neither blank nor a comment line (a line starting with `//`,
# `/*` or `*`). Prints the total, then one line per file, largest first.
#
# Usage (from the repository root): sh tools/code_lines.sh
set -eu
count() { grep -v '^[[:space:]]*$' | grep -v '^[[:space:]]*//' |
  grep -v '^[[:space:]]*/\*' | grep -v '^[[:space:]]*\*' | wc -l; }
find src/main/scala -name '*.scala' -print0 | xargs -0 cat | count |
  sed 's/^ */total /'
find src/main/scala -name '*.scala' | sort | while read -r f; do
  printf '%s %s\n' "$(count < "$f" | tr -d ' ')" "$f"
done | sort -rn
