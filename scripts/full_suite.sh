#!/usr/bin/env bash
# The whole test suite: the fast tier pytest.ini selects by default plus
# the slow tier (`-m ""` clears its `-m "not slow"`), in the Tier-1
# environment of ROADMAP.md. Run it before a round closes; the summary line
# gives the passed/failed/skipped counts and the wall time. Extra arguments
# go to pytest.
#     scripts/full_suite.sh
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
exec python -m pytest tests/ -m "" -q --continue-on-collection-errors -p no:cacheprovider "$@"
