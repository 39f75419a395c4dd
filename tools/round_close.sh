#!/usr/bin/env bash
# Round-close verification chain — the exact sequence every round's
# committed artifacts come from (see .claude/skills/verify/SKILL.md):
#   1. full differential sweep on a DRIVER-LIKE vanilla session
#      (writes CORRECTNESS_LOCAL_<round>.json)
#   2. physical-plan audit over the whole registry (rewrites PLANS.md;
#      0 warnings is the CI gate)
#   3. full pytest suite
#   4. bench (median-of-3 protocol; final stdout line must stay the
#      compact parseable headline)
# Runs ~55 min at sf0.01/sf0.1 on local[32]. Exits nonzero on the
# first failing stage.
#
# Usage: tools/round_close.sh <round>    (e.g. r12; required)
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: tools/round_close.sh <round> (e.g. r12)}"
python tools/check_oracle.py --vanilla --json "CORRECTNESS_LOCAL_${ROUND}.json" /root/testdata/sf0.01
python tools/plan_audit.py /root/testdata/sf0.01
python -m pytest tests/ -q
python bench.py
