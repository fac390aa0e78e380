#!/usr/bin/env python3
"""Compare PlanDump's <query>_before.txt / <query>_after.txt pairs.

Two plans of the same query taken in different JVMs differ in
run-local counters that say nothing about the plan: expression ids
(#123), exchange plan_ids, RDD ids, the source line of a checkpoint
call site, lambda object names, whole-stage codegen ids and the ids of
query stages that earlier queries of the session already materialized
(numbered in the order AQE happened to create them). This masks those
and reports, per query, whether the plans are equal with only the
expression ids masked and with everything masked.

Usage: python3 tools/plan_compare.py plans/r12
Exit status 1 if any pair differs after full masking.
"""
import glob
import os
import re
import sys


def mask_ids(t):
    return re.sub(r'#\d+', '#N', t)


def mask_all(t):
    t = mask_ids(t)
    t = re.sub(r'plan_id=\d+', 'plan_id=N', t)
    t = re.sub(r'RDD\[\d+\]', 'RDD[N]', t)
    t = re.sub(r'\.scala:\d+', '.scala:L', t)
    t = re.sub(r'\$\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+', '$$$$$$Lambda', t)
    t = re.sub(r'codegen id : \d+', 'codegen id : N', t)
    return re.sub(r'(\) (?:ShuffleQueryStage|BroadcastQueryStage|TableCacheQueryStage)'
                  r'\nOutput [^\n]*\nArguments: )\d+', r'\1N', t)


def main(d):
    bad = 0
    for f in sorted(glob.glob(os.path.join(d, '*_before.txt'))):
        q = os.path.basename(f)[:-len('_before.txt')]
        a = open(f).read()
        b = open(os.path.join(d, q + '_after.txt')).read()
        ids, full = mask_ids(a) == mask_ids(b), mask_all(a) == mask_all(b)
        bad += not full
        print(f"{q:24s} equal-with-ids-masked={ids} equal-fully-masked={full}")
    return 1 if bad else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else 'plans/r12'))
