"""Reference-upsert model of one container migration, and its checks.

The model replays the reference's per-document loop
(``src/migration.py:88-148`` of the Cosmos migration tool the engine
reproduces): a document without ``id`` or with a NULL/empty
partition-key value is an error; otherwise the target is point-read by
key, the document is inserted when absent, skipped when its content
equals the target's after the system-field strip, and replaced
otherwise. Target documents the source does not name are never
touched. Two of the engine's recorded divergences are applied:

* the system-field strip recurses into structs inside lists (the
  reference strips only top-level and directly nested dicts);
* sanitization is deterministic, so it changes what is written but not
  the classification, which the model computes on unsanitized content.

Documents are read with DuckDB as ``(key, content)`` pairs: the key is
``(id, pk values...)`` and the content is the canonical text of the
stripped document, built from the parquet schema.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SYSTEM_FIELDS = frozenset(("_etag", "_rid", "_self", "_ts"))

#: The reference sanitizer's field-name map (``src/sanitizer.py:6-38``),
#: matched case-insensitively at any depth.
PII_FIELDS = frozenset((
    "firstname", "lastname", "fullname", "name", "ssn", "phonenumber",
    "mobilenumber", "email", "workemail", "personalemail", "address",
    "street", "city", "state", "postalcode", "zip", "jobtitle",
    "department", "dateofbirth", "managerid", "insurance", "taxid",
    "accountname", "accountnumber", "routingnumber", "line1", "line2",
    "countyname", "countyfips", "ratingarea", "payrate"))


@dataclass
class Expected:
    """What the reference's upsert does to one container."""

    inserted: int
    updated: int
    skipped: int
    errors: int
    #: keys in the target before the run
    before: set
    #: keys the reference leaves in the target after the run
    after: set

    @property
    def counts(self) -> tuple[int, int, int, int]:
        return self.inserted, self.updated, self.skipped, self.errors

    @property
    def valid(self) -> int:
        return self.inserted + self.updated + self.skipped


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _stripped(expr: str, dtype: pa.DataType) -> str:
    """DuckDB expression rebuilding ``expr`` without system fields at
    any depth, lists of structs included."""
    if pa.types.is_struct(dtype):
        kept = [dtype.field(i) for i in range(dtype.num_fields)
                if dtype.field(i).name not in SYSTEM_FIELDS]
        if not kept:
            return "NULL"
        inner = ", ".join(
            f"{_q(f.name)} := {_stripped(f'{expr}.{_q(f.name)}', f.type)}"
            for f in kept)
        return f"CASE WHEN {expr} IS NULL THEN NULL ELSE struct_pack({inner}) END"
    if pa.types.is_list(dtype) or pa.types.is_large_list(dtype):
        return f"list_transform({expr}, x -> {_stripped('x', dtype.value_type)})"
    return expr


def _pk_expr(path: str) -> str:
    parts = [p for p in path.strip("/").split("/") if p]
    return ".".join(_q(p) for p in parts)


def _scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


def read_docs(con: duckdb.DuckDBPyConnection, path: str,
              pk_paths: list[str]) -> list[tuple]:
    """``(id, pk values..., stripped content)`` per document of the
    parquet container at ``path``."""
    schema = pq.read_schema(next(_files(path)))
    content = "struct_pack(" + ", ".join(
        f"{_q(f.name)} := {_stripped(_q(f.name), f.type)}"
        for f in schema if f.name not in SYSTEM_FIELDS) + ")::VARCHAR"
    cols = ", ".join(["id"] + [_pk_expr(p) for p in pk_paths] + [content])
    return con.execute(f"SELECT {cols} FROM {_scan(path)}").fetchall()


def _files(path: str):
    import os

    for dirpath, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                yield os.path.join(dirpath, f)


def key(row: tuple) -> tuple | None:
    """(id, pk values...), or None when the reference would skip the
    document as an error (no id; a NULL or empty pk value)."""
    doc_id, pks = row[0], row[1:-1]
    if doc_id is None or any(v is None or v == "" for v in pks):
        return None
    return (doc_id,) + tuple(pks)


def expect(source: list[tuple], target: list[tuple]) -> Expected:
    """Replay the reference's per-document upsert loop over
    :func:`read_docs` rows."""
    state = {key(r): r[-1] for r in target}
    before = set(state)
    ins = upd = skip = err = 0
    for row in source:
        k = key(row)
        if k is None:
            err += 1
            continue
        if k not in state:
            ins += 1
        elif state[k] == row[-1]:
            skip += 1
        else:
            upd += 1
        state[k] = row[-1]
    return Expected(ins, upd, skip, err, before, set(state))


def read_keys(con: duckdb.DuckDBPyConnection, path: str,
              pk_paths: list[str]) -> set:
    cols = ", ".join(["id"] + [_pk_expr(p) for p in pk_paths])
    return {tuple(r) for r in
            con.execute(f"SELECT {cols} FROM {_scan(path)}").fetchall()}


def docs_lost(expected: Expected, after: set) -> int:
    """Target documents the reference keeps that are missing after the
    run."""
    return len((expected.before & expected.after) - after)


def _pii_leaves(expr: str, dtype: pa.DataType, pii: bool = False):
    """DuckDB expressions of every scalar under a PII-named field (list
    elements excluded: no list in these documents holds PII)."""
    if pa.types.is_struct(dtype):
        for i in range(dtype.num_fields):
            f = dtype.field(i)
            yield from _pii_leaves(f"{expr}.{_q(f.name)}", f.type,
                                   pii or f.name.lower() in PII_FIELDS)
    elif not pa.types.is_list(dtype) and pii:
        yield expr


def leaked_pii(con: duckdb.DuckDBPyConnection, source: str,
               written: str) -> int:
    """Written documents that still hold one of their source document's
    PII values at the same path."""
    schema = pq.read_schema(next(_files(source)))
    leaves = [e for f in schema
              for e in _pii_leaves(_q(f.name), f.type,
                                   f.name.lower() in PII_FIELDS)]
    if not leaves:
        return 0
    same = " OR ".join(f"s.{e} = w.{e}" for e in leaves)
    return con.execute(
        f"SELECT count(*) FROM {_scan(written)} w JOIN {_scan(source)} s "
        f"ON s.id = w.id WHERE {same}").fetchone()[0]
