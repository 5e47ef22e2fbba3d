#!/usr/bin/env python3
"""Sync-pass and query-mix benchmark of the engine.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Builds the engine and the benchmark (build.py), then runs one workload in
one JVM with one closed-loop client (graft.perfbench.Main). The last line
of standard output is the result:
  {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics when --trace is 0 and the per-layer metrics
when it is 1. The line before it holds every figure the run measured,
with the host-stall forensics. Workloads and metrics are described in
perfbench/README.md.

Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ('sync_steady', 'analytics_mix')
# The fixture scale of analytics_mix, looked up in TESTDATA.md. It is the
# oracle-correctness scale, not the bench scale 0.1: at 0.1 a run takes
# about 2.3 times as long, which the time budget does not allow (README.md).
FIXTURE_SCALE = '0.01'
# Whole-run limit; a run that is not done by then is killed and fails.
RUN_LIMIT_S = 170

# The JVM options build.sbt gives the engine's own mains: the module
# opens Spark needs on JDK 17 and the C1-only JIT.
ADD_OPENS = ['java.base/java.lang', 'java.base/java.lang.invoke',
             'java.base/java.lang.reflect', 'java.base/java.io',
             'java.base/java.net', 'java.base/java.nio',
             'java.base/java.util', 'java.base/java.util.concurrent',
             'java.base/java.util.concurrent.atomic', 'java.base/sun.nio.ch',
             'java.base/sun.nio.cs', 'java.base/sun.security.action',
             'java.base/sun.util.calendar']


def fixture_dir():
    """The fixture directory of FIXTURE_SCALE, as TESTDATA.md lists it."""
    path = os.path.join(build.ROOT, 'TESTDATA.md')
    with open(path) as fh:
        for line in fh:
            cells = [c.strip() for c in line.split('|')]
            if len(cells) > 2 and cells[1] == FIXTURE_SCALE:
                d = re.sub(r'^`|/?`$', '', cells[2])
                if os.path.isdir(d):
                    return d
    sys.exit(f'no fixture directory for scale {FIXTURE_SCALE} in TESTDATA.md')


def jvm(cp, work, main, args, deadline):
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    cmd = (['java'] + [a for p in ADD_OPENS for a in ('--add-opens', p + '=ALL-UNNAMED')]
           + ['-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC',
              '-Xmx3g', '-XX:TieredStopAtLevel=1', '-XX:ReservedCodeCacheSize=512m',
              '-XX:-UsePerfData',
              '-Djava.io.tmpdir=' + tmp,
              '-Dspark.local.dir=' + os.path.join(work, 'spark-local'),
              '-Dspark.sql.warehouse.dir=' + os.path.join(work, 'warehouse'),
              '-Dderby.system.home=' + os.path.join(work, 'derby'),
              '-cp', os.pathsep.join(cp), main] + args)
    log = open(os.path.join(work, 'jvm.log'), 'w')
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = 'timeout'
    log.close()
    if rc != 0:
        with open(os.path.join(work, 'jvm.log')) as fh:
            sys.stderr.write(''.join(fh.readlines()[-60:]))
    return rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', choices=WORKLOADS)
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--seconds', type=float, default=10)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--selftest', action='store_true')
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error('--workload or --selftest is required')
    cp = build.build()
    start = time.time()
    deadline = start + RUN_LIMIT_S
    threads = min(4, os.cpu_count() or 1)
    work = os.path.join(build.BUILD_DIR, 'work',
                        f'{a.workload or "selftest"}-{a.seed}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            rc = jvm(cp, work, 'graft.perfbench.SelfTest',
                     ['--sf-dir', fixture_dir(), '--threads', str(threads),
                      '--work-dir', work, '--bench-dir', build.BENCH_DIR],
                     start + 900)
            with open(os.path.join(work, 'jvm.log')) as fh:
                sys.stderr.write(''.join(l for l in fh if l.startswith('[selftest]')))
            sys.exit(0 if rc == 0 else 1)
        result = os.path.join(work, 'result.json')
        rc = jvm(cp, work, 'graft.perfbench.Main',
                 ['--workload', a.workload, '--seed', str(a.seed),
                  '--seconds', str(a.seconds), '--trace', str(a.trace),
                  '--sf-dir', fixture_dir(), '--work-dir', work,
                  '--bench-dir', build.BENCH_DIR,
                  '--start-epoch-ms', repr(start * 1000.0),
                  '--threads', str(threads), '--result', result], deadline)
        if rc != 0:
            sys.exit(f'benchmark JVM exited {rc}')
        with open(result) as fh:
            r = json.load(fh)
        metrics = r['per_layer'] if a.trace else r['end_to_end']
        if any(m['value'] is None for m in metrics.values()):
            sys.exit('a metric could not be computed: ' + json.dumps(metrics))
        print(json.dumps(r))
        print(json.dumps({'correct': r['failed'] == 0,
                          'attempted': r['attempted'], 'failed': r['failed'],
                          'metrics': metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == '__main__':
    main()
