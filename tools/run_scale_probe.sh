#!/bin/sh
# Non-oracle scale probe: generates the hash-deterministic corpora
# target/scaleprobe/g1x, g10x and g100x (see graft.ScaleProbe), times the
# graph/ANN/planner families at 1x vs 10x and the heaviest families at
# 10x vs 100x. Emits one {"metric":"scale_probe",...} JSON line.
# Linear-in-input operators should land near ratio ~10 for scan-bound
# legs; interpret ratios together with the emitted cardinalities.
cd "$(dirname "$0")/.." || exit 1
exec sbt -batch "runMain graft.ScaleProbe"
