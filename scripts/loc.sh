#!/usr/bin/env bash
# Line counts of the engine sources (src/main/scala): raw lines, and
# code lines, which leave out blank lines and lines that start (after
# indentation) with //, /* or * — comments and scaladoc.
#   scripts/loc.sh            # counts of the working tree
#   scripts/loc.sh <dir>      # counts of another checkout
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
find "$root/src/main/scala" -name '*.scala' -print0 | xargs -0 cat | awk '
  { raw++ }
  /^[ \t]*$/ { next }
  /^[ \t]*(\/\/|\/\*|\*)/ { next }
  { code++ }
  END { printf "raw %d\ncode %d\n", raw, code }'
