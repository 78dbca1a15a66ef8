#!/usr/bin/env python3
"""Statistics of a table directory that shape the gate's queries.

    python3 perfbench/tablestats.py <dir-with-the-ten-parquet-tables>
    python3 perfbench/tablestats.py --generated    # gendata.py's tables

Prints one line per statistic: row counts, the documents corpus (tokens
per document, vocabulary, near-duplicate pairs, languages), the
embeddings (count, dimension, labels, largest cosine between two
vectors), the events stream and the categorical columns of the star
schema. gendata.py takes its parameters from these figures measured on
the sf0.01 tables; run this on both to compare them.
"""
import os
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


def shingles(tokens, k=3):
    return {tuple(tokens[i:i + k]) for i in range(len(tokens) - k + 1)}


def stats(d):
    t = {n: pq.read_table(os.path.join(d, f'{n}.parquet')).to_pandas() for n in TABLES}
    out = {f'rows.{n}': len(df) for n, df in t.items()}
    doc = t['documents']
    toks = doc.text.str.split()
    n = toks.str.len()
    out['documents.tokens_per_doc min/median/max'] = f'{n.min()}/{n.median():g}/{n.max()}'
    words = {w for ts in toks for w in ts}
    out['documents.vocabulary'] = len(words)
    texts = doc.text.tolist()
    by_text = set(texts)
    out['documents.copy_plus_suffix_pairs'] = sum(
        1 for a in texts for b in by_text if b != a and b.startswith(a + ' '))
    sh = [shingles(ts) for ts in toks]
    near = 0
    for i in range(len(sh)):
        for j in range(i + 1, len(sh)):
            u = len(sh[i] | sh[j])
            near += bool(u) and len(sh[i] & sh[j]) / u > 0.5
    out['documents.pairs_jaccard3_over_0.5'] = near
    out['documents.lang_shares'] = ' '.join(
        f'{k}:{v:.2f}' for k, v in doc.lang.value_counts(normalize=True).sort_index().items())
    out['documents.sources'] = doc.source.nunique()
    emb = t['embeddings']
    v = np.stack(emb.embedding.values).astype(np.float64)
    g = v @ v.T
    np.fill_diagonal(g, -1.0)
    out['embeddings.dim'] = v.shape[1]
    out['embeddings.labels'] = emb.label.nunique()
    out['embeddings.norm min/max'] = f'{np.linalg.norm(v, axis=1).min():.4f}/{np.linalg.norm(v, axis=1).max():.4f}'
    out['embeddings.max_cosine'] = round(float(g.max()), 3)
    ev = t['events']
    gaps = np.diff(ev.ts.values.astype('datetime64[us]').astype(np.int64)) / 1e6
    out['events.users'] = ev.user_id.nunique()
    out['events.types'] = ev.event_type.nunique()
    out['events.value mean/median'] = f'{ev.value.mean():.1f}/{ev.value.median():.1f}'
    out['events.gap_s mean'] = round(float(gaps.mean()), 1)
    out['events.props distinct'] = ev.props.nunique()
    li = t['lineitem']
    out['lineitem.orders_with_lines'] = li.l_orderkey.nunique()
    out['lineitem.discount share at 0.00/0.05/0.10'] = '/'.join(
        f'{(li.l_discount.round(2) == x).mean():.3f}' for x in (0.0, 0.05, 0.1))
    out['lineitem.tax share at 0.00/0.04/0.08'] = '/'.join(
        f'{(li.l_tax.round(2) == x).mean():.3f}' for x in (0.0, 0.04, 0.08))
    out['orders.distinct customers'] = t['orders'].o_custkey.nunique()
    out['part.distinct names'] = t['part'].p_name.nunique()
    return out


def main():
    if sys.argv[1:] == ['--generated']:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import gendata
        with tempfile.TemporaryDirectory() as d:
            gendata.write(d)
            s = stats(d)
    else:
        s = stats(sys.argv[1])
    for k, v in s.items():
        print(f'{k}: {v}')


if __name__ == '__main__':
    main()
