"""The reference-upsert model on the golden account of the orchestrator
tests: container ``hr/emp`` yields 2 inserts, 1 update, 2 skips and 1
error, and container ``sales/leads`` 2 inserts into an empty target.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import model  # noqa: E402

SCHEMA = pa.schema([("id", pa.string()), ("dept", pa.string()),
                    ("salary", pa.int64())])
EMP_SOURCE = [("1", "eng", 100), ("2", "eng", 220), ("3", "ops", 300),
              ("4", "ops", 400), ("5", "eng", 500), (None, "eng", 600)]
EMP_TARGET = [("1", "eng", 100), ("2", "eng", 200), ("3", "ops", 300)]
LEADS_SOURCE = [("a", "x", 1), ("b", "y", 2)]


def _container(tmp_path, name: str, rows, schema=SCHEMA) -> str:
    path = tmp_path / (name + ".parquet")
    path.mkdir()
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    pq.write_table(pa.table([pa.array(c, f.type) for c, f in
                             zip(cols, schema)], schema=schema),
                   str(path / "part-00000.parquet"))
    return str(path)


def test_golden_counter_quadruple(tmp_path):
    con = duckdb.connect()
    src = model.read_docs(con, _container(tmp_path, "src", EMP_SOURCE),
                          ["/dept"])
    tgt = model.read_docs(con, _container(tmp_path, "tgt", EMP_TARGET),
                          ["/dept"])
    exp = model.expect(src, tgt)
    assert exp.counts == (2, 1, 2, 1)
    assert exp.valid == 5
    ids = lambda keys: {k[0] for k in keys}  # noqa: E731
    assert ids(exp.before) == {"1", "2", "3"}
    assert ids(exp.after) == {"1", "2", "3", "4", "5"}


def test_fresh_target_is_all_inserts(tmp_path):
    con = duckdb.connect()
    src = model.read_docs(con, _container(tmp_path, "leads", LEADS_SOURCE),
                          ["/id"])
    exp = model.expect(src, [])
    assert exp.counts == (2, 0, 0, 0)


def test_docs_lost_counts_kept_target_docs_only():
    exp = model.expect([("1", "eng", "a"), ("4", "ops", "d")],
                       [("1", "eng", "old"), ("9", "ops", "z")])
    assert exp.counts == (1, 1, 0, 0)
    # the reference keeps target-only doc 9
    assert model.docs_lost(exp, {("1", "eng"), ("4", "ops"),
                                 ("9", "ops")}) == 0
    assert model.docs_lost(exp, {("1", "eng"), ("4", "ops")}) == 1


def test_empty_partition_key_is_an_error():
    exp = model.expect([("1", "", "a"), ("2", None, "b"), ("3", "x", "c")],
                       [])
    assert exp.counts == (1, 0, 0, 2)


NESTED = pa.schema([
    ("id", pa.string()), ("tenantId", pa.string()),
    ("profile", pa.struct([("email", pa.string()),
                           ("address", pa.struct([("city", pa.string())]))])),
    ("history", pa.list_(pa.struct([("_etag", pa.string()),
                                    ("note", pa.string())]))),
    ("_etag", pa.string()), ("_ts", pa.int64())])


def _nested(tmp_path, name, rows) -> str:
    path = tmp_path / (name + ".parquet")
    path.mkdir()
    pq.write_table(pa.Table.from_pylist(rows, schema=NESTED),
                   str(path / "part-00000.parquet"))
    return str(path)


def _doc(i, etag, note="n", email="a@x"):
    return {"id": str(i), "tenantId": "t", "_etag": etag, "_ts": int(i),
            "profile": {"email": email, "address": {"city": "c"}},
            "history": [{"_etag": etag, "note": note}]}


def test_strip_recurses_into_lists(tmp_path):
    """System fields differ at every level, inside the history list too:
    the documents are still equal after the strip."""
    con = duckdb.connect()
    src = model.read_docs(con, _nested(tmp_path, "s", [
        _doc(1, "e1"), _doc(2, "e2", note="new")]), ["/tenantId"])
    tgt = model.read_docs(con, _nested(tmp_path, "t", [
        _doc(1, "other"), _doc(2, "other", note="old")]), ["/tenantId"])
    assert model.expect(src, tgt).counts == (0, 1, 1, 0)


def test_leaked_pii_finds_unsanitized_values(tmp_path):
    con = duckdb.connect()
    src = _nested(tmp_path, "s", [_doc(1, "e"), _doc(2, "e", email="b@x")])
    clean = _nested(tmp_path, "w", [
        dict(_doc(1, "e", email="fake1"), profile={
            "email": "fake1", "address": {"city": "City_1"}}),
        dict(_doc(2, "e", email="fake2"), profile={
            "email": "fake2", "address": {"city": "City_2"}})])
    assert model.leaked_pii(con, src, clean) == 0
    # doc 2 keeps its nested city
    leaky = _nested(tmp_path, "l", [
        dict(_doc(1, "e"), profile={"email": "f", "address": {"city": "x"}}),
        dict(_doc(2, "e"), profile={"email": "g", "address": {"city": "c"}})])
    assert model.leaked_pii(con, src, leaky) == 1
