#!/bin/sh
# The FULL five-battery correctness sweep, with the verification
# watermark made structural (round-15 verdict task 1): runs every
# registered query through graft.Verify + the DuckDB oracle compare at
# three scale factors, plus the reversed-order and extensions-on
# variants at the driver's gate scale, and — only when ALL FIVE pass
# AND the src/ tree is clean — stamps .round_verified with the verified
# HEAD. The pre-commit hook then refuses src/ commits until the stamp
# is deliberately deleted, so battery evidence can never silently
# detach from the commit it ran on (the r14/r15 slip).
#
# Usage: tools/battery-sweep.sh [outdir-prefix]   (default /tmp/battery)
set -u
cd "$(git rev-parse --show-toplevel)" || exit 1
prefix=${1:-/tmp/battery}
sha=$(git rev-parse HEAD)

# Verify honours SPARK_GRAFT_ONLY for both the queries it runs and the
# oracle set check_oracle.py compares, so an exported filter would shrink
# every battery to a subset and the stamp below would claim all five
# green over it
if [ -n "${SPARK_GRAFT_ONLY:-}" ]; then
  echo "[sweep] REFUSED: SPARK_GRAFT_ONLY is set ($SPARK_GRAFT_ONLY) — the sweep must run every query; unset it"
  exit 1
fi

if [ -n "$(git status --porcelain src/ build.sbt project/ 2>/dev/null)" ]; then
  echo "[sweep] REFUSED: src/build tree is not clean — the sweep must run on exactly HEAD ($sha)"
  git status --porcelain src/ build.sbt project/
  exit 1
fi
rm -f .round_verified

fails=0
summary=""
run_battery() {
  bname=$1; sf=$2; out=$3; shift 3
  echo "[sweep] battery $bname: Verify $sf -> $out ($*)"
  rm -rf "$out"
  if env "$@" sbt -batch "runMain graft.Verify $sf $out" </dev/null >"$out.log" 2>&1 \
     && python3 tools/check_oracle.py "$sf" "$out" >"$out.oracle" 2>&1; then
    line=$(tail -2 "$out.oracle" | grep -E "queries match" | head -1)
    echo "[sweep] battery $bname OK: $line"
    summary="$summary$bname: $line\n"
  else
    line=$(grep -E "FAIL|failed|queries match" "$out.oracle" "$out.log" 2>/dev/null | tail -5)
    echo "[sweep] battery $bname FAILED:"
    echo "$line"
    summary="$summary$bname: FAILED\n"
    fails=$((fails + 1))
  fi
}

run_battery sf0.001      /root/testdata/sf0.001 "${prefix}_sf0001"
run_battery sf0.01       /root/testdata/sf0.01  "${prefix}_sf001"
run_battery sf0.1        /root/testdata/sf0.1   "${prefix}_sf01"
run_battery reversed     /root/testdata/sf0.01  "${prefix}_rev" SPARK_GRAFT_REVERSE=1
run_battery extensions   /root/testdata/sf0.01  "${prefix}_ext" SPARK_GRAFT_EXTENSIONS=1

if [ "$fails" -eq 0 ]; then
  {
    echo "$sha"
    date -u +"%Y-%m-%dT%H:%M:%SZ"
    printf "%b" "$summary"
  } > .round_verified
  echo "[sweep] ALL FIVE BATTERIES GREEN on $sha — stamped .round_verified"
  exit 0
else
  echo "[sweep] $fails battery(ies) FAILED on $sha — no stamp written"
  exit 1
fi
