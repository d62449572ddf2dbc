"""The seeded generator: same seed, same bytes; another seed, other
documents at the same composition rates.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import generate  # noqa: E402
import model  # noqa: E402

CONTAINERS = [generate.Container("db", "big", 4000, "B1"),
              generate.Container("db", "flat", 500, "B1flat"),
              generate.Container("db", "hier", 500, "B3")]


def _account(tmp_path, seed: int, tag: str) -> tuple[str, str]:
    src, tgt = str(tmp_path / f"src{tag}"), str(tmp_path / f"tgt{tag}")
    generate.write_account(seed, CONTAINERS, src, tgt)
    return src, tgt


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def _same_tree(a: str, b: str) -> bool:
    files = _files(a)
    return files == _files(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in files)


def test_same_seed_gives_identical_files(tmp_path):
    for tag in ("a", "b"):
        _account(tmp_path, 7, tag)
    assert _same_tree(str(tmp_path / "srca"), str(tmp_path / "srcb"))
    assert _same_tree(str(tmp_path / "tgta"), str(tmp_path / "tgtb"))


def _rates(src: str, tgt: str, c: generate.Container) -> dict:
    con = duckdb.connect()
    path = lambda root: os.path.join(root, c.database, c.name + ".parquet")  # noqa: E731
    pk = generate.pk_paths(c.shape)
    source = model.read_docs(con, path(src), pk)
    target = model.read_docs(con, path(tgt), pk)
    exp = model.expect(source, target)
    n = len(source)
    return {"n": n, "null_id": sum(r[0] is None for r in source) / n,
            "errors": exp.errors / n, "skip": exp.skipped / exp.valid,
            "update": exp.updated / exp.valid,
            "insert": exp.inserted / exp.valid,
            "target_only": len(exp.before - {model.key(r) for r in source})
            / n}, source


def test_other_seed_other_documents_same_rates(tmp_path):
    a = _account(tmp_path, 1, "a")
    b = _account(tmp_path, 2, "b")
    c = CONTAINERS[0]
    rates_a, docs_a = _rates(*a, c)
    rates_b, docs_b = _rates(*b, c)
    assert {r[-1] for r in docs_a}.isdisjoint({r[-1] for r in docs_b})
    assert rates_a["n"] == rates_b["n"] == c.docs
    assert rates_a["target_only"] == rates_b["target_only"] == 0.05
    expected = {"null_id": generate.NULL_ID_RATE,
                "errors": generate.NULL_ID_RATE + generate.BAD_PK_RATE,
                "skip": 0.6, "update": 0.2, "insert": 0.2}
    for rates in (rates_a, rates_b):
        for k, want in expected.items():
            assert abs(rates[k] - want) < 0.03, (k, rates[k], want)


def test_every_shape_has_its_schema(tmp_path):
    src, _ = _account(tmp_path, 3, "a")
    con = duckdb.connect()
    for c in CONTAINERS:
        rows = model.read_docs(con, os.path.join(src, c.database,
                                                 c.name + ".parquet"),
                               generate.pk_paths(c.shape))
        assert len(rows) == c.docs
        assert len(rows[0]) == 2 + len(generate.pk_paths(c.shape))
