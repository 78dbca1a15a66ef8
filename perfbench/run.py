#!/usr/bin/env python3
"""The repository benchmark: one command, one workload, one result line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds the library and the harness
(perfbench/build.py), makes the workload's inputs from --seed, runs the
measurement in one JVM at local[4], checks every output, and prints as
its last stdout line a JSON object with the keys correct, attempted,
failed and metrics. With --trace 0 the metrics are the end-to-end metrics
of BENCHMARK.json, with --trace 1 its per-layer metrics. perfbench/README.md
describes the workloads and what each metric measures.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# per-layer metrics each workload exercises (by name prefix); the others
# read 0: the workload spends nothing in that layer
EXERCISED = {
    'crawl': ('core.', 'crawl.', 'host.', 'jvm.', 'trace.'),
    'gate': ('ops.', 'sources.', 'SparkEntry.', 'gate.', 'host.', 'jvm.', 'trace.'),
}
SETUP_ROUNDS = 4
RUN_BUDGET_S = 170.0
JDK_OPENS = ['java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io',
             'java.net', 'java.nio', 'java.util', 'java.util.concurrent',
             'java.util.concurrent.atomic', 'sun.nio.ch', 'sun.nio.cs',
             'sun.security.action', 'sun.util.calendar']


def log(msg):
    print(f'perfbench: {msg}', file=sys.stderr, flush=True)


def run_jvm(args, work, timeout_s):
    import build
    cmd = ['java', '-Xmx4g', '-Dfile.encoding=UTF-8',
           f'-Djava.io.tmpdir={os.path.join(work, "tmp")}',
           f'-Dlog4j2.configurationFile={os.path.join(HERE, "log4j2.properties")}']
    for p in JDK_OPENS:
        cmd += ['--add-opens', f'java.base/{p}=ALL-UNNAMED']
    cmd += ['-cp', build.classpath(), 'perfbench.Main'] + args
    os.makedirs(os.path.join(work, 'tmp'), exist_ok=True)
    # Spark's scratch space stays under the run's work directory
    env = {k: v for k, v in os.environ.items() if k != 'SPARK_LOCAL_DIRS'}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env)
    # a terminated benchmark stops its JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit('perfbench: terminated'))
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        sys.exit(f'perfbench: measurement exceeded {timeout_s:.0f} s')
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        sys.exit(f'perfbench: JVM exited with {proc.returncode}')
    with open(os.path.join(work, 'result.json')) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=sorted(EXERCISED))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    ap.add_argument('--toy', action='store_true',
                    help='toy-size inputs (smoke test)')
    ap.add_argument('--perturb', choices=['crawl', 'query'],
                    help='corrupt one expected output (smoke test)')
    a = ap.parse_args()

    if not os.path.isdir('src/main/scala') or not os.path.isfile('BENCHMARK.json'):
        sys.exit('perfbench: run from the repository root (src/main/scala and '
                 'BENCHMARK.json are required)')
    with open('BENCHMARK.json') as f:
        b = json.load(f)
    import build
    build.build()
    t0 = time.monotonic()

    work = os.path.join(build.BUILD, 'work', a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_args = ['--workload', a.workload, '--seed', str(a.seed),
                '--seconds', str(a.seconds), '--trace', str(a.trace),
                '--work', os.path.abspath(work), '--toy', '1' if a.toy else '0',
                '--perturb-crawl', '1' if a.perturb == 'crawl' else '0']
    gate_dirs = []
    if a.workload == 'gate':
        import gendata
        gen_s = []
        for k in range(SETUP_ROUNDS):
            d = os.path.abspath(os.path.join(work, f'gate-data-{k}'))
            g0 = time.monotonic()
            gendata.write(d)
            gen_s.append(time.monotonic() - g0)
            gate_dirs.append(d)
        jvm_args += ['--gate-dirs', ','.join(gate_dirs),
                     '--gate-gen-s', ','.join(f'{s:.6f}' for s in gen_s)]

    res = run_jvm(jvm_args, work, RUN_BUDGET_S - (time.monotonic() - t0))
    attempted, failed = res['attempted'], res['failed']

    if gate_dirs:
        import oracle
        verdicts = oracle.check(gate_dirs[-1], os.path.join(work, 'out'),
                                perturb=a.perturb == 'query')
        attempted += int(res['info']['queries'])
        bad = {q: v for q, v in verdicts.items() if v is not None}
        # a query that failed to run has no output to check
        failed += len(bad) + int(res['info']['queries']) - len(verdicts)
        for q, v in sorted(bad.items()):
            log(f'FAILED output check {q}: {v}')

    metrics = {}
    if a.trace == 0:
        for m in b['end_to_end']:
            v = res['e2e'].get(m['name'])
            if v is None:
                sys.exit(f'perfbench: metric {m["name"]} was not measured')
            metrics[m['name']] = {'value': v, 'unit': m['unit']}
    else:
        for m in b['per_layer']:
            got = res['layer'].get(m['name'])
            if got is not None and got[0] is not None:
                v = got[0]
            elif m['name'].startswith(EXERCISED[a.workload]):
                attempted += 1
                failed += 1
                log(f'FAILED: layer metric {m["name"]} missing')
                v = 0.0
            else:
                v = 0.0
            metrics[m['name']] = {'value': v, 'unit': m['unit']}

    for k, v in res['info'].items():
        log(f'{a.workload} {k} = {v}')
    for k, v in metrics.items():
        print(f'perfbench {a.workload} {k} = {v["value"]} {v["unit"]}')
    print(f'perfbench {a.workload} error_rate = {failed / max(1, attempted)} '
          f'({failed} of {attempted} operations and output checks)')
    print(json.dumps({'correct': failed == 0, 'attempted': attempted,
                      'failed': failed, 'metrics': metrics}))


if __name__ == '__main__':
    main()
