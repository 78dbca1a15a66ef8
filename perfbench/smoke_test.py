#!/usr/bin/env python3
"""Toy-size smoke test of the benchmark (about five minutes).

    python3 perfbench/smoke_test.py      # from the repository root

Checks that every metric BENCHMARK.json names is printed with its unit,
traced and untraced, on both workloads; and that the output checks are
live: a corrupted crawl digest and a corrupted query result must each
raise the error count above zero.
"""
import json
import subprocess
import sys


def run(workload, trace, perturb=None):
    cmd = [sys.executable, 'perfbench/run.py', '--workload', workload,
           '--seed', '7', '--seconds', '1', '--trace', str(trace), '--toy']
    if perturb:
        cmd += ['--perturb', perturb]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    spec = json.load(open('BENCHMARK.json'))
    for w in spec['workloads']:
        for trace, key in ((0, 'end_to_end'), (1, 'per_layer')):
            res = run(w['name'], trace)
            assert res['correct'] and res['failed'] == 0 and res['attempted'] > 0, res
            want = {m['name']: m['unit'] for m in spec[key]}
            got = {k: v['unit'] for k, v in res['metrics'].items()}
            assert got == want, (w['name'], trace, set(got) ^ set(want))
            assert all(isinstance(v['value'], (int, float)) for v in res['metrics'].values())
            print(f'ok: {w["name"]} --trace {trace}: {len(got)} metrics, '
                  f'{res["attempted"]} checks passed')
    for workload, perturb in (('crawl', 'crawl'), ('gate', 'query')):
        res = run(workload, 0, perturb)
        assert not res['correct'] and res['failed'] > 0, res
        print(f'ok: {workload} with a corrupted {perturb} output: '
              f'error_rate {res["failed"]}/{res["attempted"]}')


if __name__ == '__main__':
    main()
