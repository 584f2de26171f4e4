#!/usr/bin/env bash
# Pre-commit gate: refuse to snapshot a repo that does not compile.
#
# Round 4 shipped its snapshot with a one-line type-inference break and
# scored zero despite 182 green tests on the working tree. This script is
# the guard: run it before EVERY snapshot commit (and ideally before any
# commit touching src/).
#
#   tools/precommit.sh          # compile main + test sources (~30 s warm)
#   tools/precommit.sh --test   # also run the full scalatest suite
set -euo pipefail
cd "$(dirname "$0")/.."

# One session builder: every session goes through graft.Session, so the
# engine conf cannot drift apart between mains, tools and tests.
builders=$(grep -rn "SparkSession.builder" src | grep -v "^src/main/scala/graft/Session.scala:" || true)
if [[ -n "$builders" ]]; then
  echo "precommit: SparkSession.builder outside graft/Session.scala:" >&2
  echo "$builders" >&2
  exit 1
fi

# One metrics listener: every listener and bus drain goes through
# graft.metrics.QueryMetrics and graftbridge.ListenerBus, so tools and tests
# measure the same way.
listeners=$(grep -rnE "(extends|with|new)[[:space:]]+([A-Za-z0-9_]+\.)*(SparkListener|StreamingQueryListener)\b|StreamingQueryListener \{|streamingQueryListeners|waitUntilEmpty" src \
  | grep -vE "^src/main/scala/(graft/metrics/QueryMetrics|org/apache/spark/sql/graftbridge/ListenerBus)\.scala:" || true)
if [[ -n "$listeners" ]]; then
  echo "precommit: listener or bus drain outside graft/metrics/QueryMetrics.scala and graftbridge/ListenerBus.scala:" >&2
  echo "$listeners" >&2
  exit 1
fi

# One top-k primitive: vector search ranks through Rankings.topKByScore
# (the bounded TopKByScore aggregate), never a row_number window that sorts
# the pair stream; and one arg-min aggregate, ArgMinBy.
windows=$(grep -rnE "row_number|expressions\.Window" src/main/scala/graft/similarity/ || true)
if [[ -n "$windows" ]]; then
  echo "precommit: rank window in graft/similarity (use Rankings.topKByScore):" >&2
  echo "$windows" >&2
  exit 1
fi
argmin=$(grep -rn "ArgMinByLong" src || true)
if [[ -n "$argmin" ]]; then
  echo "precommit: ArgMinByLong is folded into ArgMinBy:" >&2
  echo "$argmin" >&2
  exit 1
fi

# One assignment kernel: k-means and product-quantizer codebooks assign
# rows with NearestCentroidL2, never a least() over literal zip_with folds.
folds=$(grep -rn "zip_with" src/main/scala/graft/ml/ || true)
if [[ -n "$folds" ]]; then
  echo "precommit: zip_with in graft/ml (assign through NearestCentroidL2):" >&2
  echo "$folds" >&2
  exit 1
fi

# Every `runMain graft.…` the docs name must be an object in src/main.
missing=0
for fq in $(grep -oh "runMain graft\.[A-Za-z0-9_.]*" README.md .claude/skills/verify/SKILL.md \
    | sed "s/^runMain //" | sort -u); do
  pkg=${fq%.*} obj=${fq##*.}
  files=$(grep -rlx "package $pkg" src/main/scala || true)
  if [[ -z "$files" ]] || ! grep -q "^object $obj\b" $files; then
    echo "precommit: docs name runMain $fq, but src/main has no such object" >&2
    missing=1
  fi
done
[[ $missing == 0 ]] || exit 1

sbt -batch compile Test/compile

if [[ "${1:-}" == "--test" ]]; then
  sbt -batch test
fi

echo "precommit: OK"
