"""Differential JSONL suite: the reference's json_files_unit_tests.json
corpus (5 cases) through read_jsonl → engine → write_jsonl, outputs compared
as parsed JSON per line (the reference compares file content; parsed-line
compare tolerates only whitespace formatting differences)."""

import json
import os

import pytest

REF_TEST_DIR = '/root/reference/test'
CORPUS_PATH = os.path.join(REF_TEST_DIR, 'json_files_unit_tests.json')

pytestmark = pytest.mark.skipif(
    not os.path.exists(CORPUS_PATH), reason='reference jsonl corpus not available')


def load_cases():
    with open(CORPUS_PATH, encoding='utf-8') as f:
        return [c for c in json.load(f) if c.get('query_python')]


# an absent corpus parametrizes over no cases, so the skipif above (not a
# FileNotFoundError at collection) decides what the run reports
CASES = load_cases() if os.path.exists(CORPUS_PATH) else []


@pytest.mark.parametrize('case', CASES, ids=[c['test_name'].replace(' ', '_') for c in CASES])
def test_jsonl_corpus_case(spark, case, tmp_path):
    from rbql_spark.api import query_dataframe
    from rbql_spark.sources.jsonl import read_jsonl, write_jsonl

    input_path = os.path.join(REF_TEST_DIR, case['input_table_path'])
    expected_path = os.path.join(REF_TEST_DIR, case['expected_output_table_path'])
    out_path = os.path.join(str(tmp_path), 'out.jsonl')

    handle = read_jsonl(spark, input_path)
    result = query_dataframe(spark, case['query_python'], handle)
    write_jsonl(result, out_path)

    with open(expected_path, encoding='utf-8') as f:
        expected = [json.loads(ln) for ln in f if ln.strip()]
    with open(out_path, encoding='utf-8') as f:
        got = [json.loads(ln) for ln in f if ln.strip()]
    assert got == expected
