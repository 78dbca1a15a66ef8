"""Deterministic input tables for the query gate.

Ten tables in the shape the gate queries read (a TPC-H-style star schema,
an `events` stream, a `documents` corpus with near-duplicate pairs and an
`embeddings` table of unit vectors). Row counts and distributions are the
ones measured on the sf0.01 tables the query surface is tested on:
`python3 perfbench/tablestats.py <dir>` prints them for any table
directory, and perfbench/README.md lists both sets of figures. The tables
are a pure function of SEED, so the gate's oracle results never change
between runs (the gate ignores the benchmark seed).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20240101
ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000,
            lineitem=60000, events=10000, documents=500, embeddings=500)

REGIONS = ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']
SEGMENTS = ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
ADJECTIVES = ['blue', 'cold', 'hot', 'large', 'new', 'old', 'red', 'small']
NOUNS = ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget']
PART_TYPES = ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD']
PRIORITIES = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
EVENT_TYPES = ['click', 'error', 'purchase', 'signup', 'view']
WORDS = ['a', 'agg', 'batch', 'big', 'column', 'customer', 'data', 'fast',
         'filter', 'group', 'hash', 'join', 'key', 'line', 'merge', 'order',
         'part', 'query', 'row', 'scan', 'slow', 'small', 'sort', 'spark',
         'stream', 'table', 'the', 'value', 'vector', 'window']
LANGS = ['en', 'zh', 'de', 'fr', 'es']
LANG_P = [0.436, 0.150, 0.140, 0.128, 0.146]
NEAR_DUP_PAIRS = 25


def _days(rng, n, start, end):
    lo = np.datetime64(start, 'D')
    span = (np.datetime64(end, 'D') - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype('datetime64[us]')


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables():
    rng = np.random.default_rng(SEED)
    n = ROWS
    t = {}
    t['region'] = pa.table({
        'r_regionkey': pa.array(range(5), pa.int32()),
        'r_name': REGIONS})
    t['nation'] = pa.table({
        'n_nationkey': pa.array(range(25), pa.int32()),
        'n_name': [f'NATION_{k}' for k in range(25)],
        'n_regionkey': pa.array([k % 5 for k in range(25)], pa.int32())})
    t['customer'] = pa.table({
        'c_custkey': np.arange(n['customer'], dtype=np.int64),
        'c_name': [f'Customer#{k:09d}' for k in range(n['customer'])],
        'c_nationkey': rng.integers(0, 25, n['customer']).astype(np.int32),
        'c_acctbal': _money(rng, -999.99, 9999.99, n['customer']),
        'c_mktsegment': rng.choice(SEGMENTS, n['customer'])})
    t['supplier'] = pa.table({
        's_suppkey': np.arange(n['supplier'], dtype=np.int64),
        's_name': [f'Supplier#{k:09d}' for k in range(n['supplier'])],
        's_nationkey': rng.integers(0, 25, n['supplier']).astype(np.int32),
        's_acctbal': _money(rng, -999.99, 9999.99, n['supplier'])})
    t['part'] = pa.table({
        'p_partkey': np.arange(n['part'], dtype=np.int64),
        'p_name': [f'{a} {b}' for a, b in zip(rng.choice(ADJECTIVES, n['part']),
                                               rng.choice(NOUNS, n['part']))],
        'p_brand': [f'Brand#{k}' for k in rng.integers(1, 26, n['part'])],
        'p_type': rng.choice(PART_TYPES, n['part']),
        'p_size': rng.integers(1, 51, n['part']).astype(np.int32),
        'p_retailprice': np.round(900.0 + (np.arange(n['part']) % 1000) / 10.0, 1)})
    t['orders'] = pa.table({
        'o_orderkey': np.arange(n['orders'], dtype=np.int64),
        'o_custkey': rng.integers(0, n['customer'], n['orders']).astype(np.int64),
        'o_orderstatus': rng.choice(['F', 'O', 'P'], n['orders']),
        'o_totalprice': _money(rng, 1000.0, 500000.0, n['orders']),
        'o_orderdate': _days(rng, n['orders'], '1995-01-01', '2001-08-01'),
        'o_orderpriority': rng.choice(PRIORITIES, n['orders'])})
    m = n['lineitem']
    t['lineitem'] = pa.table({
        'l_orderkey': rng.integers(0, n['orders'], m).astype(np.int64),
        'l_partkey': rng.integers(0, n['part'], m).astype(np.int64),
        'l_suppkey': rng.integers(0, n['supplier'], m).astype(np.int64),
        'l_linenumber': rng.integers(1, 8, m).astype(np.int32),
        'l_quantity': rng.integers(1, 51, m).astype(np.float64),
        'l_extendedprice': _money(rng, 900.0, 105000.0, m),
        'l_discount': np.round(rng.uniform(0.0, 0.10, m), 2),
        'l_tax': np.round(rng.uniform(0.0, 0.08, m), 2),
        'l_returnflag': rng.choice(['A', 'N', 'R'], m),
        'l_linestatus': rng.choice(['F', 'O'], m),
        'l_shipdate': _days(rng, m, '1995-01-02', '2001-11-04')})
    e = n['events']
    gaps_us = rng.exponential(30 * 86400e6 / e, e).astype(np.int64)
    t['events'] = pa.table({
        'event_id': np.arange(e, dtype=np.int64),
        'ts': np.datetime64('2024-01-01', 'us') + np.cumsum(gaps_us).astype('timedelta64[us]'),
        'user_id': rng.integers(0, 150, e).astype(np.int64),
        'event_type': rng.choice(EVENT_TYPES, e),
        'value': np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        'props': [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n['documents']
    texts = [' '.join(rng.choice(WORDS, rng.integers(10, 100)))
             for _ in range(d)]
    # near-duplicate pairs: a document overwritten, one pair after the
    # other, by a copy of another plus one token (so a copy of a copy,
    # or a source later overwritten, can occur)
    for src, dst in rng.integers(0, d, (NEAR_DUP_PAIRS, 2)):
        if src != dst:
            texts[dst] = texts[src] + ' dup'
    t['documents'] = pa.table({
        'doc_id': np.arange(d, dtype=np.int64),
        'text': texts,
        'lang': rng.choice(LANGS, d, p=LANG_P),
        'source': [f'src{k % 20}' for k in range(d)],
        'n_chars': np.array([len(x) for x in texts], dtype=np.int64)})
    v = rng.standard_normal((n['embeddings'], 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t['embeddings'] = pa.table({
        'vec_id': np.arange(n['embeddings'], dtype=np.int64),
        'embedding': pa.array(list(v), pa.list_(pa.float32())),
        'label': rng.integers(0, 10, n['embeddings']).astype(np.int32)})
    return t


def write(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f'{name}.parquet'))
