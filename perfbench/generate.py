"""Seeded input generator for the migration workloads (pure Python +
pyarrow).

It writes migration accounts in the catalog's filesystem layout
(``<root>/<database>/<container>.parquet`` plus
``<container>.properties.json``), shaped like FIXTURES.md B1/B2/B3, as
plain parquet, so the program under test receives only files. The query
workload reads the harness tables copied under ``perfbench/data``
instead.

The same seed gives byte-identical files; a different seed gives
different documents with the same composition rates.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Composition rates (FIXTURES.md B1/B2).
NULL_ID_RATE = 0.02
BAD_PK_RATE = 0.02          # half NULL tenantId, half ''
SAME_RATE, CHANGED_RATE = 0.60, 0.20   # the remaining 20% are absent
TARGET_ONLY_RATE = 0.05     # extra target-only docs, share of source docs

_FIRST = ["Ada", "Ben", "Cleo", "Dev", "Eli", "Fay", "Gus", "Hana",
          "Ivo", "Jun", "Kai", "Lea", "Max", "Noa", "Oto", "Pia"]
_LAST = ["Abbott", "Baker", "Cruz", "Diaz", "Evans", "Fox", "Gray",
         "Hill", "Ito", "Jones", "Khan", "Lopez", "Moss", "Ng"]
_CITIES = ["Austin", "Boston", "Denver", "Fresno", "Omaha", "Tulsa"]
_STATES = ["TX", "MA", "CO", "CA", "NE", "OK"]
_TAGS = ["vip", "new", "churn", "trial", "beta", "eu", "us", "apac"]
_NOTES = ["created", "moved", "upgraded", "downgraded", "renewed"]
_REGIONS = ["us-east", "us-west", "eu-north", "ap-south"]


@dataclass(frozen=True)
class Container:
    """One generated source container."""

    database: str
    name: str
    docs: int
    #: "B1" (struct ``profile.address``), "B1flat" (string address) or
    #: "B3" (string address plus ``region.code``, hierarchical pk)
    shape: str


def _address_type(shape: str) -> pa.DataType:
    if shape == "B1":
        return pa.struct([(f, pa.string()) for f in
                          ("line1", "line2", "city", "state", "postalCode")])
    return pa.string()


def doc_schema(shape: str) -> pa.Schema:
    """Arrow schema of one container shape (FIXTURES.md B1/B3)."""
    profile = pa.struct([("firstName", pa.string()),
                         ("lastName", pa.string()),
                         ("email", pa.string()),
                         ("address", _address_type(shape))])
    history = pa.list_(pa.struct([("_etag", pa.string()),
                                  ("ts", pa.timestamp("us", tz="UTC")),
                                  ("note", pa.string())]))
    fields = [("id", pa.string()), ("tenantId", pa.string()),
              ("profile", profile), ("payRate", pa.float64()),
              ("tags", pa.list_(pa.string())), ("history", history)]
    if shape == "B3":
        fields.append(("region", pa.struct([("code", pa.string())])))
    fields += [("_etag", pa.string()), ("_rid", pa.string()),
               ("_self", pa.string()), ("_ts", pa.int64())]
    return pa.schema(fields)


def pk_paths(shape: str) -> list[str]:
    return ["/tenantId", "/region/code"] if shape == "B3" else ["/tenantId"]


def _hex(rng: np.random.Generator, n: int) -> list[str]:
    return [f"{x:016x}" for x in rng.integers(0, 2**63, n).tolist()]


def _lists(rng: np.random.Generator, n: int, max_len: int
           ) -> tuple[np.ndarray, int]:
    """Offsets of ``n`` lists with 0..max_len elements, and the total."""
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(rng.integers(0, max_len + 1, n), out=offsets[1:])
    return offsets, int(offsets[-1])


def _history(rng: np.random.Generator, offsets: np.ndarray, ts: np.ndarray,
             notes: np.ndarray) -> pa.Array:
    """history array<struct<_etag, ts, note>> with fresh ``_etag``s."""
    item = pa.StructArray.from_arrays(
        [pa.array(_hex(rng, len(ts))),
         pa.array(ts, pa.timestamp("us", tz="UTC")),
         pa.array(notes)], names=["_etag", "ts", "note"])
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), item)


def _system(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Fresh system fields (what Cosmos assigns on every write)."""
    rid = [f"rid{x:x}" for x in rng.integers(0, 2**31, n).tolist()]
    return {"_etag": pa.array(_hex(rng, n)), "_rid": pa.array(rid),
            "_self": pa.array([f"dbs/x/colls/y/docs/{r}" for r in rid]),
            "_ts": pa.array(1_700_000_000 + rng.integers(0, 10**7, n))}


def _docs(rng: np.random.Generator, prefix: str, n: int, shape: str
          ) -> pa.Table:
    """``n`` valid documents with every business field populated."""
    pick = lambda opts, k=n: np.array(opts)[rng.integers(0, len(opts), k)]  # noqa: E731
    first, last = pick(_FIRST), pick(_LAST)
    num = rng.integers(1000, 10**6, n)
    city = rng.integers(0, len(_CITIES), n)
    line1 = [f"{a} {b} St" for a, b in zip(rng.integers(1, 9999, n), last)]
    if shape == "B1":
        address = pa.StructArray.from_arrays(
            [pa.array(line1), pa.array([f"Apt {x % 500}" for x in num]),
             pa.array(np.array(_CITIES)[city]),
             pa.array(np.array(_STATES)[city]),
             pa.array([f"{x % 100000:05d}" for x in num])],
            names=["line1", "line2", "city", "state", "postalCode"])
    else:
        address = pa.array([f"{a}, {_CITIES[c]} {_STATES[c]}"
                            for a, c in zip(line1, city)])
    profile = pa.StructArray.from_arrays(
        [pa.array([f"{f}{x % 97}" for f, x in zip(first, num)]),
         pa.array(last),
         pa.array([f"{f.lower()}.{la.lower()}{x}@mail.test"
                   for f, la, x in zip(first, last, num)]),
         address], names=["firstName", "lastName", "email", "address"])
    tag_off, n_tags = _lists(rng, n, 3)
    hist_off, n_hist = _lists(rng, n, 3)
    cols = {
        "id": pa.array([f"{prefix}-{i:07d}" for i in range(n)]),
        "tenantId": pa.array(np.array([f"t{i:02d}" for i in range(50)])
                             [rng.integers(0, 50, n)]),
        "profile": profile,
        # four decimals ending in 5: the sanitizer emits two, so a
        # sanitized value can never coincide with its source value
        "payRate": np.round(10 + rng.integers(0, 90_000, n) / 1000
                            + 0.0005, 4),
        "tags": pa.ListArray.from_arrays(pa.array(tag_off),
                                         pa.array(pick(_TAGS, n_tags))),
        "history": _history(
            rng, hist_off,
            1_600_000_000_000_000 + rng.integers(0, 10**14, n_hist),
            pick(_NOTES, n_hist)),
    }
    if shape == "B3":
        cols["region"] = pa.StructArray.from_arrays(
            [pa.array(pick(_REGIONS))], names=["code"])
    cols.update(_system(rng, n))
    return pa.table(cols, schema=doc_schema(shape))


def _restamped(rng: np.random.Generator, t: pa.Table, changed: np.ndarray
               ) -> pa.Table:
    """Target copies of source rows: fresh system fields at every level
    (so the strip is load-bearing) and, where ``changed``, a different
    ``payRate`` and an extra tag."""
    n = t.num_rows
    hist = t.column("history").combine_chunks()
    flat = hist.flatten()
    offsets = hist.offsets.to_numpy()
    t = t.set_column(t.schema.get_field_index("history"), "history",
                     _history(rng, offsets - offsets[0],
                              flat.field("ts").to_numpy(),
                              flat.field("note").to_numpy(
                                  zero_copy_only=False)))
    pay = t.column("payRate").to_numpy() + np.where(changed, 1.0, 0.0)
    tags = t.column("tags").to_pylist()
    for i in np.flatnonzero(changed):
        tags[i] = tags[i] + ["stale"]
    t = t.set_column(t.schema.get_field_index("payRate"), "payRate",
                     pa.array(np.round(pay, 4)))
    t = t.set_column(t.schema.get_field_index("tags"), "tags",
                     pa.array(tags, pa.list_(pa.string())))
    for name, arr in _system(rng, n).items():
        t = t.set_column(t.schema.get_field_index(name), name, arr)
    return t


def container_tables(seed: int, c: Container, with_target: bool
                     ) -> tuple[pa.Table, pa.Table | None]:
    """Source table and (when ``with_target``) the pristine target table
    of one container, at the FIXTURES.md B1/B2 composition rates."""
    rng = np.random.default_rng(
        [seed, zlib.crc32(f"{c.database}/{c.name}".encode())])
    src = _docs(rng, c.name, c.docs, c.shape)
    u = rng.random(c.docs)
    null_id = u < NULL_ID_RATE
    bad_pk = (u >= NULL_ID_RATE) & (u < NULL_ID_RATE + BAD_PK_RATE)
    empty_pk = bad_pk & (u >= NULL_ID_RATE + BAD_PK_RATE / 2)
    ids = src.column("id").to_numpy(zero_copy_only=False).astype(object)
    ids[null_id] = None
    tenant = src.column("tenantId").to_numpy(zero_copy_only=False
                                             ).astype(object)
    tenant[bad_pk] = None
    tenant[empty_pk] = ""
    src = src.set_column(0, "id", pa.array(ids, pa.string()))
    src = src.set_column(1, "tenantId", pa.array(tenant, pa.string()))
    if not with_target:
        return src, None
    v = rng.random(c.docs)
    valid = ~(null_id | bad_pk)
    kept = np.flatnonzero(valid & (v < SAME_RATE + CHANGED_RATE))
    tgt = _restamped(rng, src.take(kept), v[kept] >= SAME_RATE)
    extra = _docs(rng, c.name + "-tonly", int(c.docs * TARGET_ONLY_RATE),
                  c.shape)
    tgt = pa.concat_tables([tgt, extra])
    return src, tgt.take(rng.permutation(tgt.num_rows))


def _write_container(root: str, c: Container, table: pa.Table) -> None:
    """A container is a parquet directory, the layout the engine's own
    writes leave (its merge renames and removes the whole directory)."""
    db_dir = os.path.join(root, c.database)
    data = os.path.join(db_dir, c.name + ".parquet")
    os.makedirs(data, exist_ok=True)
    pq.write_table(table, os.path.join(data, "part-00000.parquet"))
    with open(os.path.join(db_dir, c.name + ".properties.json"), "w") as f:
        json.dump({"partition_key_paths": pk_paths(c.shape),
                   "indexing_policy": None, "throughput": None}, f)


def write_account(seed: int, containers: list[Container], src_root: str,
                  tgt_root: str | None) -> None:
    """Write the source account and, when ``tgt_root`` is given, the
    pristine target account (B2) for the same containers."""
    for c in containers:
        src, tgt = container_tables(seed, c, tgt_root is not None)
        _write_container(src_root, c, src)
        if tgt_root is not None:
            _write_container(tgt_root, c, tgt)

