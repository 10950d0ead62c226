"""Seeded synthetic inputs for the benchmark.

The tables follow the schema the repository's gates read: a TPC-H-like
star schema (region, nation, customer, supplier, part, orders, lineitem)
plus the `events`, `documents` and `embeddings` tables of the curation
gates.  Sizes scale with `sf` the way the reference test data does
(lineitem = 6M x sf rows); values come from `numpy.random.default_rng(seed)`,
so one seed always gives the same bytes.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ('region', 'nation', 'customer', 'supplier', 'part', 'orders', 'lineitem')
CURATION_TABLES = ('events', 'documents', 'embeddings')

_WORDS = ('join hash row batch scan column customer filter small slow merge order '
          'vector line table data agg value key stream window a spark part group '
          'big sort query fast the').split()
_LANGS = np.array(['en', 'zh', 'es', 'de', 'fr'])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_REGIONS = ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']
_SEGMENTS = np.array(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])
_PRIORITIES = np.array(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])
_EVENT_TYPES = np.array(['click', 'view', 'purchase', 'signup', 'error'])
_PART_ADJ = np.array(['red', 'blue', 'small', 'large', 'hot', 'cold', 'old'])
_PART_NOUN = np.array(['plate', 'widget', 'ring', 'rod', 'bolt', 'gear', 'gizmo', 'anvil'])
_PART_TYPES = np.array(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64('1995-01-01', 'us').astype(np.int64)
_EPOCH_2024 = np.datetime64('2024-01-01', 'us').astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype('datetime64[us]'), type=pa.timestamp('us'))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    t = {}
    t['region'] = pa.table({'r_regionkey': pa.array(range(5), pa.int32()),
                            'r_name': _REGIONS})
    t['nation'] = pa.table({'n_nationkey': pa.array(range(25), pa.int32()),
                            'n_name': ['NATION_{}'.format(i) for i in range(25)],
                            'n_regionkey': pa.array([i % 5 for i in range(25)], pa.int32())})
    t['customer'] = pa.table({
        'c_custkey': np.arange(n_cust, dtype=np.int64),
        'c_name': ['Customer#{:09d}'.format(i) for i in range(n_cust)],
        'c_nationkey': rng.integers(0, 25, n_cust).astype(np.int32),
        'c_acctbal': _money(rng, -999.99, 9999.99, n_cust),
        'c_mktsegment': rng.choice(_SEGMENTS, n_cust)})
    t['supplier'] = pa.table({
        's_suppkey': np.arange(n_supp, dtype=np.int64),
        's_name': ['Supplier#{:09d}'.format(i) for i in range(n_supp)],
        's_nationkey': rng.integers(0, 25, n_supp).astype(np.int32),
        's_acctbal': _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    t['part'] = pa.table({
        'p_partkey': keys,
        'p_name': np.char.add(np.char.add(rng.choice(_PART_ADJ, n_part), ' '),
                              rng.choice(_PART_NOUN, n_part)),
        'p_brand': np.char.add('Brand#', rng.integers(1, 26, n_part).astype(str)),
        'p_type': rng.choice(_PART_TYPES, n_part),
        'p_size': rng.integers(1, 51, n_part).astype(np.int32),
        'p_retailprice': np.round(900 + (keys % 1000) / 10, 2)})
    t['orders'] = pa.table({
        'o_orderkey': np.arange(n_ord, dtype=np.int64),
        'o_custkey': rng.integers(0, n_cust, n_ord),
        'o_orderstatus': rng.choice(np.array(['F', 'O', 'P']), n_ord),
        'o_totalprice': _money(rng, 1000, 500_000, n_ord),
        'o_orderdate': _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
        'o_orderpriority': rng.choice(_PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t['lineitem'] = pa.table({
        'l_orderkey': rng.integers(0, n_ord, n_li),
        'l_partkey': rng.integers(0, n_part, n_li),
        'l_suppkey': rng.integers(0, n_supp, n_li),
        'l_linenumber': rng.integers(1, 8, n_li).astype(np.int32),
        'l_quantity': qty,
        'l_extendedprice': np.round(qty * rng.uniform(900, 2100, n_li), 2),
        'l_discount': rng.integers(0, 11, n_li) / 100.0,
        'l_tax': rng.integers(0, 9, n_li) / 100.0,
        'l_returnflag': rng.choice(np.array(['A', 'N', 'R']), n_li),
        'l_linestatus': rng.choice(np.array(['F', 'O']), n_li),
        'l_shipdate': _ts(_EPOCH_1995 + rng.integers(1, 2499, n_li) * _DAY_US)})
    return t


def curation_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(150, n_ev // 67)
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    t = {}
    t['events'] = pa.table({
        'event_id': np.arange(n_ev, dtype=np.int64),
        'ts': _ts(_EPOCH_2024 + np.cumsum(gaps)),
        'user_id': rng.integers(0, n_users, n_ev),
        'event_type': rng.choice(_EVENT_TYPES, n_ev),
        'value': np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        'props': ['{{"k": {}}}'.format(k) for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as the dedup gates expect
            texts.append(texts[int(rng.integers(0, i))] + ' dup')
        else:
            texts.append(' '.join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    t['documents'] = pa.table({
        'doc_id': np.arange(n_doc, dtype=np.int64),
        'text': texts,
        'lang': rng.choice(_LANGS, n_doc, p=_LANG_P),
        'source': ['src{}'.format(i % 20) for i in range(n_doc)],
        'n_chars': np.array([len(s) for s in texts], dtype=np.int64)})
    centroids = rng.normal(0, 0.14 / 8, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t['embeddings'] = pa.table({
        'vec_id': np.arange(n_emb, dtype=np.int64),
        'embedding': pa.array(list(vecs), type=pa.list_(pa.float32())),
        'label': labels.astype(np.int32)})
    return t


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, name + '.parquet'))


def write_csv(tbl: pa.Table, path: str) -> int:
    """Header + rows, dates as YYYY-MM-DD, floats in Python repr; returns bytes."""
    cols = []
    for name in tbl.column_names:
        col = tbl.column(name)
        if pa.types.is_timestamp(col.type):
            cols.append(np.datetime_as_string(col.to_numpy(), unit='D'))
        else:
            cols.append(col.to_pylist())
    with open(path, 'w', newline='') as f:
        w = csv.writer(f, lineterminator='\n')
        w.writerow(tbl.column_names)
        w.writerows(zip(*cols))
    return os.path.getsize(path)
