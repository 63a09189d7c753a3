#!/bin/bash
# Plan evidence: formatted physical plans of the given queries, captured
# on the working tree (AFTER) and at <before-ref> (BEFORE), one file per
# query and side: <out-dir>/<qNNN>_{before,after}.txt. Both sides run
# graft.Explain, i.e. Bench's session (GraftSession.local).
#
#   tools/capture_plans.sh <before-ref> <out-dir> <query>...
#
# Queries are full registry names (e.g. q359_change_feed). Run from the
# repository root with no other sbt active; the BEFORE side builds in a
# throwaway git worktree with its own target dir.
set -euo pipefail
if [ $# -lt 3 ]; then
  echo "usage: $0 <before-ref> <out-dir> <query>..." >&2
  exit 2
fi
BEFORE_REF=$1
OUT_DIR=$2
shift 2
mkdir -p "$OUT_DIR"
OUT_DIR=$(cd "$OUT_DIR" && pwd)
TMP=$(mktemp -d)
trap 'git worktree remove --force "$TMP/before_wt" 2>/dev/null || true; rm -rf "$TMP"' EXIT
split_plans() { # $1 = raw Explain log, $2 = suffix
  python3 - "$1" "$2" "$OUT_DIR" <<'PY'
import re, sys
raw, suffix, out = open(sys.argv[1]).read(), sys.argv[2], sys.argv[3]
parts = re.split(r"^========== (\S+) ==========$", raw, flags=re.M)
for i in range(1, len(parts), 2):
    name = parts[i].split("_")[0]
    open(f"{out}/{name}_{suffix}.txt", "w").write(
        f"== {parts[i]} ({suffix}) ==\n" + parts[i+1].strip() + "\n")
PY
}
# AFTER: the working tree
sbt -batch "runMain graft.Explain $*" > "$TMP/after.log" 2>&1
split_plans "$TMP/after.log" after
# BEFORE: <before-ref> in a throwaway worktree
git worktree add -f "$TMP/before_wt" "$BEFORE_REF"
(cd "$TMP/before_wt" && sbt -batch "runMain graft.Explain $*" > "$TMP/before.log" 2>&1)
split_plans "$TMP/before.log" before
ls -la "$OUT_DIR"
