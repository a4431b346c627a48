#!/bin/bash
# Touch-set stability loop: the FULL registry Verify, as the driver runs it
# (shared session, sequential, cache cleared between queries), with
# the touch-set oracle armed (every bloom-pruned merge touch scan
# re-derives the exact touch set and throws on a false negative),
# then DuckDB-compare every query. Each run should end in PASS with
# bloomFN=0.
# Usage: tools/vmc_loop.sh [N]
set -u
cd "$(dirname "$0")/.."
# run from a SNAPSHOT of the compiled classes — the interactive sbt
# recompiles mutate target/ mid-run and poison a live JVM's lazy loads
rm -rf /tmp/vmc_classes
cp -r target/scala-2.13/classes /tmp/vmc_classes
CP="/tmp/vmc_classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
N="${1:-20}"
mkdir -p /tmp/vmc_loop
for i in $(seq 1 "$N"); do
  out="/tmp/vmc_loop/verify_$i"
  rm -rf "$out"
  SPARK_GRAFT_VERIFY_TOUCHSET=1 \
  SPARK_GRAFT_CPUS=4 \
    java $OPENS -Xmx8g -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC -cp "$CP" \
      graft.Verify /root/testdata/sf0.01 "$out" \
      > "/tmp/vmc_loop/run_$i.log" 2>&1
  rc=$?
  python3 tools/check.py /root/testdata/sf0.01 "$out" \
    > "/tmp/vmc_loop/check_$i.log" 2>&1
  fn=$(grep -c "BLOOM FALSE NEGATIVE" "/tmp/vmc_loop/run_$i.log")
  vmc=$(grep -E "versioned_merge_composite" "/tmp/vmc_loop/check_$i.log" | head -1)
  tail1=$(tail -1 "/tmp/vmc_loop/check_$i.log")
  echo "run $i: rc=$rc bloomFN=$fn vmc='$vmc' overall='$tail1'" \
    | tee -a /tmp/vmc_loop/summary.log
  # keep the failing artifacts, drop the passing ones (disk hygiene)
  if echo "$tail1" | grep -q "^PASS"; then rm -rf "$out"; fi
done
echo "LOOP DONE" | tee -a /tmp/vmc_loop/summary.log
