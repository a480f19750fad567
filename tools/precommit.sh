#!/usr/bin/env bash
# Pre-commit / end-of-round gate: the tree being committed must COMPILE
# (main + tests + the benchmark build) and pass the sf0.001 Verify smoke.
# Round 12 ended on a snapshot that had never been compiled — one bad
# expression emptied the round's entire correctness record; this script
# makes that failure mode a deliberate act instead of an accident.
#
# Usage: tools/precommit.sh          # compile + smoke (~2 min)
#        tools/precommit.sh --fast   # compile only (~30 s; the benchmark
#                                    # build adds ~2 min when src changed)
set -euo pipefail
cd "$(dirname "$0")/.."

# offline resolution, as in ROADMAP's tier-1 command; values the caller
# has set win
export COURSIER_MODE="${COURSIER_MODE:-offline}"
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

# a raw C0 control byte other than tab, LF or CR makes grep and rg treat
# the whole source file as binary, so code search skips it: write such
# bytes as escapes (\u0000) instead
if bad=$(LC_ALL=C grep -rlaP '[\x00-\x08\x0B\x0C\x0E-\x1F]' --include='*.scala' src); then
  echo "precommit: raw control bytes in:"; echo "$bad"; exit 1
fi

sbt -batch compile Test/compile
# perfbench compiles src/main with its own scalac and subclasses
# TableStore and ServiceFacade (perfbench/src/perfbench/Traced.scala), so
# a signature change that sbt accepts can still break the benchmark
python3 perfbench/build.py > /dev/null

if [[ "${1:-}" != "--fast" ]]; then
  out=$(mktemp -d /tmp/graft-precommit.XXXXXX)
  log=$(mktemp /tmp/graft-precommit-log.XXXXXX)
  # capture sbt's own exit status: a Verify that CRASHES mid-run prints
  # no "[verify] ... failed" line, and a pipeline grep would swallow
  # the non-zero status while the partial result dirs pass the >0 check
  if ! sbt -batch "runMain graft.Verify /root/testdata/sf0.001 $out" \
      > "$log" 2>&1; then
    tail -30 "$log"
    echo "precommit: verify smoke CRASHED (sbt exit != 0, log above)"
    exit 1
  fi
  if grep -E "\[verify\].*failed" "$log"; then
    echo "precommit: verify smoke FAILED (see above)"; exit 1
  fi
  n=$(find "$out" -mindepth 1 -maxdepth 1 -type d | wc -l)
  [[ "$n" -gt 0 ]] || { echo "precommit: verify wrote no results"; exit 1; }
  echo "precommit: OK (compile + benchmark build green, $n query results at sf0.001)"
else
  echo "precommit: OK (compile + benchmark build green; smoke skipped)"
fi
