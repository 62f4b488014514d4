#!/usr/bin/env bash
# Split-input oracle check: rewrites <sfDir> as one unshifted copy split
# into many files with small row groups (graft.tools.ScaleDir, same
# rows), runs every registry query on it (graft.Verify) and compares
# each result with its DuckDB oracle (scripts/check.py). The expected
# answers are the source's by construction, so a FAIL is a query whose
# result depends on scan or partition order, or one that cannot read a
# table written as a directory of files.
#
# Usage: scripts/split_check.sh <sfDir> <workDir>
# Writes <workDir>/data (the split tables) and <workDir>/verify (the
# results); exits with check.py's status.
set -euo pipefail
if [ $# -ne 2 ]; then
  echo "usage: $0 <sfDir> <workDir>" >&2
  exit 2
fi
# absolute paths: sbt has to run from the repository root
sf_dir=$(cd "$1" && pwd)
mkdir -p "$2"
work_dir=$(cd "$2" && pwd)
cd "$(dirname "$0")/.."
sbt --batch "runMain graft.tools.ScaleDir $sf_dir 1 $work_dir/data" \
  "runMain graft.Verify $work_dir/data $work_dir/verify"
python3 scripts/check.py "$work_dir/data" "$work_dir/verify"
