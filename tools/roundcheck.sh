#!/usr/bin/env bash
# Mechanized round-close checklist (SURVEY "End-of-round checklist"):
#   1. tools/inventory_check.py exits 0        (SURVEY §2.2 ↔ SparkEntry ↔ Oracle)
#   2. sbt test green                          (full suite), then the
#      benchmark's own suite (perfbench/: it compiles all of src/main
#      and calls engine helpers directly)
#   3. full Verify + tools/compare.py at sf0.01 all-pass
#   4. bench JSON parses with no negative per-query values (sf0.001 run)
#   5. every streaming query of the benchmark's cdc_replay workload, one
#      pass at sf0.1, matches its recorded signature (perfbench/run.py
#      exits non-zero on any failed or mismatched query)
#   6. stamp .roundcheck_ok with a hash of every .scala source
#
# The git pre-commit hook (tools/hooks/pre-commit) runs `--check-staged`
# whenever ANY src/{main,test} .scala file is staged: it fails the commit
# unless the stamp matches the STAGED sources (hashed from the git index,
# so a partially-staged tree is validated as what would actually commit)
# — i.e. the full gate ran AFTER the last source edit. That is the
# mechanical form of the standing rule "a query added after step 3
# restarts the checklist", violated by hand in rounds 9/10 and through
# the SparkEntry/Oracle-only trigger loophole in the r11 snapshot.
# `--check` does the same against the working tree (for direct runs).
# The full (no-arg) gate also regenerates LEAKCHECK.json/COPYCHECK.json
# so the driver artifacts can never go stale relative to the stamp.
#
# Mid-round WIP commits that don't touch the correctness surface are
# unaffected. A WIP commit that does may use SKIP_ROUNDCHECK=1 — but the
# end-of-round snapshot commit must pass the full gate.
set -euo pipefail
cd "$(dirname "$0")/.."
STAMP=.roundcheck_ok
SF=${ROUNDCHECK_SF:-/root/testdata/sf0.01}

hash_sources() {
  find src/main/scala src/test/scala -name '*.scala' -print0 | sort -z \
    | xargs -0 sha256sum | sha256sum | cut -d' ' -f1
}

check_against() { # $1 = hash to validate against the stamp
  if [[ ! -f $STAMP ]] || [[ "$(cat "$STAMP")" != "$1" ]]; then
    echo "ROUNDCHECK STALE: .scala sources changed since the last full gate run."
    echo "Run tools/roundcheck.sh (inventory -> sbt test -> Verify+compare@sf0.01 -> bench parse -> cdc_replay full -> leak/copy),"
    echo "or for a mid-round WIP commit only: SKIP_ROUNDCHECK=1 git commit ..."
    exit 1
  fi
  echo "roundcheck stamp fresh ($1)"
}

case "${1:-}" in
  --check)
    python3 tools/inventory_check.py
    check_against "$(hash_sources)"
    ;;
  --check-staged)
    # Hash (and inventory-check) what the INDEX would commit, not the
    # working tree: a partially-staged tree must be validated as the
    # committed content.
    idx=$(mktemp -d /tmp/roundcheck-idx.XXXXXX)
    trap 'rm -rf "$idx"' EXIT
    git checkout-index --prefix="$idx/" -a
    (cd "$idx" && python3 tools/inventory_check.py)
    staged=$(cd "$idx" && find src/main/scala src/test/scala -name '*.scala' -print0 \
      | sort -z | xargs -0 sha256sum | sha256sum | cut -d' ' -f1)
    check_against "$staged"
    ;;
  "")
    # self-arming enforcement (r15, advisor note): the gate depends on
    # the pre-commit/commit-msg hooks being installed, which a fresh
    # clone would silently lack. `core.hooksPath` (repo-local config)
    # arms linked worktrees too (where .git is a FILE, not a dir) and
    # wins over a user-global hooksPath that would otherwise silently
    # bypass the symlinks; the symlink install is kept as a fallback
    # for tooling that reads .git/hooks directly.
    if git rev-parse --git-dir >/dev/null 2>&1; then
      # don't silently clobber a developer-configured hooksPath (r15
      # advisor note) — say so when the repo-local value is changing
      prev=$(git config --local --get core.hooksPath || true)
      if [[ -n "$prev" && "$prev" != "tools/hooks" ]]; then
        echo "[roundcheck] NOTE: overriding repo-local core.hooksPath '$prev' -> tools/hooks"
      fi
      git config core.hooksPath tools/hooks
      hooksdir=$(git rev-parse --git-dir)/hooks
      if [[ -d $hooksdir ]]; then
        ln -sf "$(pwd)/tools/hooks/pre-commit" "$hooksdir/pre-commit"
        ln -sf "$(pwd)/tools/hooks/commit-msg" "$hooksdir/commit-msg"
      fi
    fi
    python3 tools/inventory_check.py
    sbt -batch test
    (cd perfbench && sbt -batch test)
    out=$(mktemp -d /tmp/roundcheck-verify.XXXXXX)
    sbt -batch "runMain graft.Verify $SF $out"
    python3 tools/compare.py "$SF" "$out"
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" \
      | grep '^{' | tail -1 | python3 -c '
import json, sys
j = json.loads(sys.stdin.read())
bad = {k: v for k, v in j.get("queries", {}).items() if not (v >= 0)}
assert not bad, "bench negative/NaN timings: %r" % bad
print("bench JSON ok: %s %s over %d queries" % (j["value"], j["unit"], len(j["queries"])))
'
    python3 perfbench/run.py --workload cdc_replay --list full --seed 1 --seconds 20
    python3 tools/leakcheck.py
    python3 tools/copycheck.py
    hash_sources > "$STAMP"
    echo "ROUNDCHECK PASS — stamp $(cat "$STAMP")"
    ;;
  *)
    echo "usage: tools/roundcheck.sh [--check | --check-staged]" >&2
    exit 2
    ;;
esac
