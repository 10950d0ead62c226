"""The workloads: their ops, inputs and independent output checks.

Every op returns its own output to the harness, which checks it against a
DuckDB evaluation outside the timed region.  The DuckDB side reads the
same generated files; its results are computed once per run, before the
measured passes, because the inputs do not change within a run.
"""

from __future__ import annotations

import csv
import importlib.util
import os
import sys

import duckdb
import numpy as np

from . import datagen

# Op lists are trimmed so that one run -- JVM, three set-ups, calibration,
# the warm-up passes and the measured passes -- stays under a minute on 4
# cores: the benchmark's 48 runs must fit one hour.

# interactive: rbql_* gates of both dialects over sf0.01, plus query_table
INTERACTIVE_SF = 0.01
INTERACTIVE_GATES = ('rbql_select_where', 'rbql_group_agg', 'rbql_inner_join',
                     'rbql_string_ops', 'rbql_js_string_ops')
# pipeline: curation gates over documents/events at sf0.01 sizes (500 /
# 10k rows), and query_csv over a lineitem CSV at sf0.005 (30k rows)
PIPELINE_SF = 0.01
CSV_SF = 0.005
PIPELINE_BATCH = ('text_quality_filter',)
PIPELINE_STREAM = ('streaming_exact_dedup',)


def _oracle_norm(root: str):
    """`_norm_rows` of tests/test_oracle.py: gate outputs are compared with
    exactly the canonicalisation the correctness suite uses."""
    spec = importlib.util.spec_from_file_location(
        'perfbench_test_oracle', os.path.join(root, 'tests', 'test_oracle.py'))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._norm_rows


class Op:
    """One timed call.  `run(spark, tracer)` returns the output; `check`
    compares it with the cached DuckDB result and returns an error string
    or None."""
    name = ''

    def prepare(self, duck) -> None:
        raise NotImplementedError

    def run(self, spark, tracer):
        raise NotImplementedError

    def check(self, out) -> str | None:
        raise NotImplementedError


class GateOp(Op):
    """A `__spark_entry__.queries()` gate; its rows are collected to the
    caller and compared with the gate's `oracle_sql()` text."""

    def __init__(self, name, fn, sf_dir, oracle, norm_rows):
        self.name, self._fn, self._sf_dir, self._sql = name, fn, sf_dir, oracle
        self._norm = norm_rows
        self._expected = None

    def prepare(self, duck) -> None:
        res = duck.sql(self._sql)
        cols = list(res.columns)
        self._expected = (sorted(cols), self._norm(res.fetchall(), cols))

    def run(self, spark, tracer):
        with tracer.span('ops.build', gate=self.name):
            df = self._fn(spark, self._sf_dir)
        with tracer.span('execute'):
            rows = df.collect()
        return df.columns, rows

    def check(self, out) -> str | None:
        cols, rows = out
        want_cols, want_rows = self._expected
        if sorted(cols) != want_cols:
            return 'columns {} != {}'.format(sorted(cols), want_cols)
        return _compare(self._norm([list(r) for r in rows], list(cols)), want_rows)


def _cell(v):
    """CSV and query_table outputs are strings or mixed Python values:
    numbers (or numeric strings) compare as floats rounded to 4 places."""
    if v is None or v == '':
        return None
    if isinstance(v, bool):
        return str(v)
    try:
        return round(float(v), 4)
    except (TypeError, ValueError):
        return str(v)


def _canon(rows) -> list[tuple]:
    return sorted((tuple(_cell(v) for v in r) for r in rows),
                  key=lambda t: tuple((x is None, str(x)) for x in t))


def _compare(got, want) -> str | None:
    if len(got) != len(want):
        return 'row count {} != {}'.format(len(got), len(want))
    bad = [(a, b) for a, b in zip(got, want) if a != b]
    return 'first mismatches: {}'.format(bad[:2]) if bad else None


class CsvOp(Op):
    """`query_csv` file to file; the output file is read back and compared
    with DuckDB over the input CSVs read as VARCHAR."""

    def __init__(self, name, query, sql, in_path, out_path, user_init=''):
        self.name, self._query, self._sql = name, query, sql
        self._in, self._out, self._init = in_path, out_path, user_init
        self._expected = None
        self.out_bytes = 0

    def prepare(self, duck) -> None:
        self._expected = _canon(duck.sql(self._sql).fetchall())

    def run(self, spark, tracer):
        from rbql_spark import api
        res = api.query_csv(spark, self._query, self._in, self._out, with_headers=True,
                            user_init_code=self._init)
        return res.out_names

    def check(self, out) -> str | None:
        self.out_bytes += os.path.getsize(self._out)
        with open(self._out, newline='') as f:
            rows = list(csv.reader(f))
        os.remove(self._out)
        if not rows or rows[0] != list(out):
            return 'missing header {}'.format(list(out))
        return _compare(_canon(rows[1:]), self._expected)


class TableOp(Op):
    """`query_table` over an in-memory list of rows, collected to Python."""

    def __init__(self, name, query, sql, rows, dialect='python'):
        self.name, self._query, self._sql = name, query, sql
        self._rows, self._dialect = rows, dialect
        self._expected = None

    def prepare(self, duck) -> None:
        self._expected = _canon(duck.sql(self._sql).fetchall())

    def run(self, spark, tracer):
        from rbql_spark import api
        rows, _names = api.query_table(spark, self._query, self._rows, dialect=self._dialect)
        return rows

    def check(self, out) -> str | None:
        return _compare(_canon(out), self._expected)


class Workload:
    """`ops` run in every pass; `first_op` runs after each build_session
    of the set-up phase."""

    def __init__(self, name, ops, first_op, input_bytes):
        self.name, self.ops, self.input_bytes = name, ops, input_bytes
        self.first_op = first_op
        self.duck = duckdb.connect()

    def prepare(self) -> None:
        for op in self.ops:
            op.prepare(self.duck)


def _duck_parquet_views(duck, data_dir, tables):
    for t in tables:
        duck.execute("CREATE VIEW {0} AS SELECT * FROM '{1}/{0}.parquet'".format(t, data_dir))


def _gates(names, data_dir, root):
    sys.path.insert(0, root)
    import __spark_entry__ as entry
    fns, sqls = entry.queries(), entry.oracle_sql()
    norm = _oracle_norm(root)
    return [GateOp(n, fns[n], data_dir, sqls[n], norm) for n in names]


CSV_SHAPES = (
    ('csv_udf',
     "SELECT a.l_orderkey, a.l_linenumber, band(a.l_quantity, a.l_discount) AS band "
     "WHERE a.l_returnflag == 'R'",
     "SELECT l_orderkey, l_linenumber, CASE WHEN l_quantity::DOUBLE * (1 - l_discount::DOUBLE) "
     "> 25 THEN 'hi' ELSE 'lo' END FROM li WHERE l_returnflag = 'R'",
     "def band(q, d):\n    return 'hi' if float(q) * (1 - float(d)) > 25 else 'lo'\n"),
)


def _csv_ops(work_dir: str, seed: int, sf: float) -> tuple[list[Op], str, int]:
    """query_csv ops over a generated lineitem CSV, the DuckDB view they
    are checked against, and the input bytes."""
    data = os.path.join(work_dir, 'csv')
    os.makedirs(data, exist_ok=True)
    t = datagen.tpch_tables(sf, seed)
    li = os.path.join(data, 'lineitem.csv')
    nbytes = datagen.write_csv(t['lineitem'], li)
    ops: list[Op] = [CsvOp(name, q, sql, li, os.path.join(data, name + '.out.csv'), init)
                     for name, q, sql, init in CSV_SHAPES]
    view = "CREATE VIEW li AS SELECT * FROM read_csv('{}', header=true, all_varchar=true)".format(li)
    return ops, view, nbytes


def _table_rows(seed: int, n: int = 300) -> list[list]:
    """Few hundred rows: int key, distinct floats, a word, and a column
    mixing ints with strings (the per-cell typed path of query_table)."""
    rng = np.random.default_rng([seed, 3])
    price = rng.permutation(n) * 3.25 + 0.5
    rows = []
    for i in range(n):
        mixed = int(rng.integers(0, 1000)) if rng.random() < 0.7 else 'x{}'.format(i)
        rows.append([i, float(price[i]), 'w{}'.format(int(rng.integers(0, 7))), mixed])
    return rows


TABLE_QUERIES = (
    ('qt_mixed', 'python', "SELECT a1, a4 WHERE a3 == 'w2'",
     "SELECT a1, a4 FROM qt WHERE a3 = 'w2'"),
    ('qt_js_upper', 'js', 'SELECT a1, a3.toUpperCase() AS u WHERE a2 > 500',
     'SELECT a1, upper(a3) FROM qt WHERE a2 > 500'),
)


def interactive(work_dir: str, seed: int, root: str, sf: float | None = None) -> Workload:
    data = os.path.join(work_dir, 'parquet')
    datagen.write_parquet(datagen.tpch_tables(sf or INTERACTIVE_SF, seed), data)
    ops: list[Op] = _gates(INTERACTIVE_GATES, data, root)
    rows = _table_rows(seed)
    ops += [TableOp(name, q, sql, rows, dialect) for name, dialect, q, sql in TABLE_QUERIES]
    wl = Workload('interactive', ops, ops[0], _dir_bytes(data))
    _duck_parquet_views(wl.duck, data, datagen.TPCH_TABLES)
    wl.duck.execute('CREATE TABLE qt (a1 BIGINT, a2 DOUBLE, a3 VARCHAR, a4 VARCHAR)')
    wl.duck.executemany('INSERT INTO qt VALUES (?, ?, ?, ?)',
                        [[a, b, c, str(d)] for a, b, c, d in rows])
    return wl


def pipeline(work_dir: str, seed: int, root: str, sf: float | None = None) -> Workload:
    data = os.path.join(work_dir, 'parquet')
    datagen.write_parquet(datagen.curation_tables(sf or PIPELINE_SF, seed), data)
    ops = _gates(PIPELINE_BATCH + PIPELINE_STREAM, data, root)
    csv_ops, view, csv_bytes = _csv_ops(work_dir, seed, sf or CSV_SF)
    wl = Workload('pipeline', ops + csv_ops, ops[0], _dir_bytes(data) + csv_bytes)
    _duck_parquet_views(wl.duck, data, datagen.CURATION_TABLES)
    wl.duck.execute(view)
    return wl


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


BUILDERS = {'interactive': interactive, 'pipeline': pipeline}
