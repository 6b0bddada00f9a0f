#!/bin/bash
# Round-12 definitive same-chain slope rows on FINAL code — 2x then 4x
# back-to-back per suite (one box session, no cross-round comparison),
# plus the 4x e2e scale suite.
set -x
cd /root/repo
echo "=== dedup 2x (final code) ==="
GRAFT_SCALE_MULT=2 SPARK_DRIVER_MEM=24g sbt -batch "set Test/testOptions := Seq(); testOnly graft.DedupScaleSpec" 2>&1 | grep -E "DEDUPSCALE|succeeded|failed"
echo "=== dedup 4x (final code) ==="
GRAFT_SCALE_MULT=4 SPARK_DRIVER_MEM=24g sbt -batch "set Test/testOptions := Seq(); testOnly graft.DedupScaleSpec" 2>&1 | grep -E "DEDUPSCALE|succeeded|failed"
echo "=== streaming 2x (final code) ==="
GRAFT_SCALE_MULT=2 SPARK_DRIVER_MEM=24g sbt -batch "set Test/testOptions := Seq(); testOnly graft.StreamingScaleSpec" 2>&1 | grep -E "STREAMSCALE|succeeded|failed"
echo "=== streaming 4x (final code) ==="
GRAFT_SCALE_MULT=4 SPARK_DRIVER_MEM=24g sbt -batch "set Test/testOptions := Seq(); testOnly graft.StreamingScaleSpec" 2>&1 | grep -E "STREAMSCALE|succeeded|failed"
echo "=== e2e 4x (final code) ==="
GRAFT_SCALE_MULT=4 SPARK_DRIVER_MEM=24g sbt -batch "set Test/testOptions := Seq(); testOnly graft.E2eScaleSpec" 2>&1 | grep -E "e2e-50k|succeeded|failed"
echo "=== done ==="
