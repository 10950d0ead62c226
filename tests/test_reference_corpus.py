"""Differential conformance suite: the reference's own JSON unit-test corpus
(/root/reference/test/rbql_unit_tests.json, 104 cases) run through our
engine's query_table API.  The corpus file is read from the read-only
reference tree at test time — it is NOT copied into this repo.

Comparison is numeric-lenient (5 == 5.0, floats rounded to 3 places — the
reference's own runner does the same, test_rbql.py:319-323).  Error cases
assert that an error is raised and, where the reference asserts exact text,
that the message matches.

Known representational divergences (documented in KNOWN_DIVERGENT below with
reasons) are skipped explicitly so everything else stays a hard assertion.
"""

import json
import math
import os

import pytest

CORPUS_PATH = '/root/reference/test/rbql_unit_tests.json'

pytestmark = [pytest.mark.slow, pytest.mark.skipif(
    not os.path.exists(CORPUS_PATH), reason='reference corpus not available')]


def load_cases():
    with open(CORPUS_PATH, encoding='utf-8') as f:
        cases = json.load(f)
    out = []
    for c in cases:
        if c.get('query_python') is None and c.get('query_python_3') is not None:
            # python-version-variant case: run the py3 form
            c = dict(c)
            c['query_python'] = c['query_python_3']
            if c.get('expected_error_py_3') is not None:
                c['expected_error_py'] = c['expected_error_py_3']
        if c.get('query_python') is None:
            continue  # JS-only case
        out.append(c)
    return out


# an absent corpus parametrizes over no cases, so the skipif above (not a
# FileNotFoundError at collection) decides what the run reports
CASES = load_cases() if os.path.exists(CORPUS_PATH) else []

# name → reason for expected divergence
KNOWN_DIVERGENT: dict[str, str] = {}


def norm_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return 'nan'
        return round(v, 3)
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return round(float(v), 3)
    if isinstance(v, (list, tuple)):
        return [norm_value(x) for x in v]
    return v


def loose_eq(a, b):
    """Scalar compare tolerating the one documented representational
    divergence: heterogeneous UPDATE columns are stringified on our side
    (a Spark column has ONE type), so '100' matches 100."""
    if a == b:
        return True
    if isinstance(a, str) != isinstance(b, str):
        sa, sb = str(a), str(b)
        if sa == sb:
            return True
        try:
            return float(sa) == float(sb)
        except (TypeError, ValueError):
            return False
    return False


def tables_match(got, expected):
    if len(got) != len(expected):
        return False
    for rg, re_ in zip(got, expected):
        if len(rg) != len(re_):
            return False
        for a, b in zip(rg, re_):
            if not loose_eq(norm_value(a), norm_value(b)):
                return False
    return True


def norm_table(tbl):
    return [[norm_value(v) for v in row] for row in tbl]


@pytest.mark.parametrize('case', CASES, ids=[c['test_name'].replace(' ', '_') for c in CASES])
def test_corpus_case(spark, case):
    from rbql_spark import query_table
    from rbql_spark.errors import RbqlError, exception_to_error_info

    name = case['test_name']
    if name in KNOWN_DIVERGENT:
        pytest.skip(KNOWN_DIVERGENT[name])

    query = case['query_python']
    input_table = [list(r) for r in case['input_table']]
    join_table = [list(r) for r in case['join_table']] if 'join_table' in case else None
    expected_error = (case.get('expected_error_py') or case.get('expected_error')
                      or case.get('expected_error_py_3'))
    expected_table = case.get('expected_output_table')
    expected_header = case.get('expected_output_header')
    init_code = case.get('python_init_code', '')

    try:
        rows, header = query_table(
            spark, query, input_table,
            input_column_names=case.get('input_column_names'),
            join_table=join_table,
            join_column_names=case.get('join_column_names'),
            user_init_code=init_code)
    except Exception as e:
        if expected_error is None:
            raise
        _etype, emsg = exception_to_error_info(e)
        if case.get('expected_error_exact'):
            assert emsg == expected_error, \
                'error text mismatch:\n  got:      {}\n  expected: {}'.format(emsg, expected_error)
        else:
            assert expected_error.split('\n')[0][:40] in emsg or emsg[:40] in expected_error, \
                'error mismatch:\n  got:      {}\n  expected: {}'.format(emsg, expected_error)
        return

    assert expected_error is None, \
        'expected error "{}" but query succeeded with {} rows'.format(expected_error, len(rows))
    assert tables_match(rows, expected_table), \
        'output mismatch:\n  got:      {}\n  expected: {}'.format(rows, expected_table)
    if expected_header is not None:
        assert header == expected_header
