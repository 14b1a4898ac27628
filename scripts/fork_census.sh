#!/usr/bin/env bash
# Count the chmod, chown, ls and stat processes a command forks.
#
#   scripts/fork_census.sh <cmd...>
#
# Puts logging shims for the four commands first on PATH, runs <cmd...>
# with its own stdout untouched, then prints one "<command> <count>" line
# per shim on stderr and exits with the command's status. Hadoop's local
# filesystem shells out to these commands when it has no native library
# (one chmod per directory and file it creates, ls/stat for permission
# reads), so an engine run should read 0 for each.
set -u
if [ $# -eq 0 ]; then
  echo "usage: $0 <cmd...>" >&2
  exit 2
fi
cmds="chmod chown ls stat"
shims=$(mktemp -d "${TMPDIR:-/tmp}/fork_census.XXXXXX")
log="$shims/forks.log"
: > "$log"
for c in $cmds; do
  real=$(command -v "$c") || continue
  printf '#!/bin/sh\necho %s >> "%s"\nexec "%s" "$@"\n' \
    "$c" "$log" "$real" > "$shims/$c"
  chmod +x "$shims/$c"
done
PATH="$shims:$PATH" "$@"
status=$?
for c in $cmds; do
  echo "$c $(grep -cx "$c" "$log")" >&2
done
rm -rf "$shims"
exit "$status"
