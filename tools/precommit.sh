#!/usr/bin/env bash
# Compile gate — run before EVERY commit (especially end-of-round snapshots).
# Round 5's entire gate loss came from committing one uncompiled line; this
# script makes that impossible to repeat. Usage:
#   tools/precommit.sh                      # Test/compile only (fast path)
#   tools/precommit.sh --test               # full sbt test as well
#   tools/precommit.sh --verify q346,q350   # + oracle-check named queries
#   tools/precommit.sh --verify all         # + oracle-check every query
set -euo pipefail
cd "$(dirname "$0")/.."
# One plan shape per rewrite and one session builder: no JVM-global
# graft.* switch, and no SparkSession.builder() outside GraftSession.scala.
if grep -rnE 'sys\.props[^"]*"graft\.|System\.getProperty\("graft\.' src/main/scala; then
  echo "precommit: src/main/scala reads a graft.* JVM system property" >&2
  exit 1
fi
if grep -rn 'SparkSession\.builder()' src/main/scala | grep -v '/GraftSession\.scala:'; then
  echo "precommit: SparkSession.builder() outside GraftSession.scala" >&2
  exit 1
fi
# One way to read parquet: batch reads go through graft.sources.ParquetStage,
# which stages a dataset from one driver-side footer read (no Spark job).
if grep -rnE '\.read(\.[A-Za-z]+\([^)]*\))*\.(parquet\(|format\("parquet"\))' src/main/scala \
    | grep -v '/sources/ParquetStage\.scala:'; then
  echo "precommit: parquet read outside graft.sources.ParquetStage" >&2
  exit 1
fi
sbt -batch Test/compile
if [[ "${1:-}" == "--test" ]]; then
  sbt -batch test
fi
if [[ "${1:-}" == "--verify" ]]; then
  queries="${2:-all}"
  out=$(mktemp -d)
  if [[ "$queries" == "all" ]]; then
    sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out"
    python3 tools/check_pandas.py "$out" /root/testdata/sf0.01
  else
    sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out $queries"
    # shellcheck disable=SC2086
    python3 tools/check_pandas.py "$out" /root/testdata/sf0.01 ${queries//,/ }
  fi
fi
echo "precommit OK"
