#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at sf0.001, one measured
pass, untraced and traced.

    python3 perfbench/selftest.py [workload ...]

It checks that
* the result line has exactly the contract's keys and every metric that
  BENCHMARK.json names, each finite and with its unit;
* in the traced run, the jobs assigned to spans equal the jobs the
  status store reported, so no job fell outside a span;
* `git status` (when the checkout is a git repository) shows no change
  outside the benchmark's own files after the runs.
Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _git_status() -> set[str] | None:
    try:
        out = subprocess.run(['git', 'status', '--porcelain', '--untracked-files=all'], cwd=ROOT,
                             capture_output=True, text=True, check=True).stdout
    except (OSError, subprocess.CalledProcessError):
        return None
    return set(out.splitlines())


def _check_run(spec, workload, trace) -> list[str]:
    cmd = [sys.executable, str(ROOT / 'perfbench' / 'run.py'), '--workload', workload,
           '--seed', '7', '--seconds', '0', '--trace', str(trace), '--sf', '0.001']
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = '{} trace={}'.format(workload, trace)
    if proc.returncode != 0:
        return ['{}: exit {}: {}'.format(where, proc.returncode, proc.stderr[-2000:])]
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    errs = []
    if set(result) != {'correct', 'attempted', 'failed', 'metrics'}:
        errs.append('{}: result keys {}'.format(where, sorted(result)))
    want = spec['per_layer' if trace else 'end_to_end']
    got = result['metrics']
    if set(got) != {m['name'] for m in want}:
        errs.append('{}: metric names differ: {}'.format(
            where, sorted(set(got) ^ {m['name'] for m in want})))
    for m in want:
        v = got.get(m['name'])
        if v is None:
            continue
        if v.get('unit') != m['unit'] or not isinstance(v.get('value'), (int, float)) \
                or not math.isfinite(v['value']):
            errs.append('{}: bad metric {} = {}'.format(where, m['name'], v))
    if trace:
        jobs = detail.get('jobs', {})
        if jobs.get('assigned') != jobs.get('store') or not jobs.get('store'):
            errs.append('{}: jobs in spans {} != jobs in status store {}'.format(
                where, jobs.get('assigned'), jobs.get('store')))
    print('{}: correct={} attempted={} failed={} {}'.format(
        where, result['correct'], result['attempted'], result['failed'],
        detail.get('jobs', '')), flush=True)
    return errs


def main(argv) -> int:
    spec = json.loads((ROOT / 'BENCHMARK.json').read_text())
    names = argv or [w['name'] for w in spec['workloads']]
    before = _git_status()
    errs = []
    for w in names:
        for trace in (0, 1):
            errs += _check_run(spec, w, trace)
    after = _git_status()
    if before is None:
        print('not a git checkout: git status check skipped')
    else:
        own = tuple(spec['paths']) + ('BENCHMARK.json',)
        changed = {ln for ln in after - before if not ln[3:].startswith(own)}
        if changed:
            errs.append('files changed outside the benchmark: {}'.format(sorted(changed)))
    for e in errs:
        print('FAIL', e)
    print('selftest', 'failed' if errs else 'passed')
    return 1 if errs else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1:]))
