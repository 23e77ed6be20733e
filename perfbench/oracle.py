"""Independent checks over a store's parquet files, evaluated by DuckDB.

The engine writes its index and dictionary tables as parquet; DuckDB
reads the same files and evaluates each benchmark query in SQL, so a
read's result is checked against an evaluator that shares no code with
the engine."""

from __future__ import annotations

import hashlib
import json
import os
import re

import duckdb

INDEX_DIRS = ("triples_spo", "triples_pos", "triples_osp")
DICT_DIRS = ("term2id", "id2term")
_NUM = re.compile(r"^-?[0-9]+(\.[0-9]*)?([eE][-+]?[0-9]+)?$")
_XSD_NUM = ("http://www.w3.org/2001/XMLSchema#double",
            "http://www.w3.org/2001/XMLSchema#integer")


def _parquet(root: str, name: str) -> str:
    return os.path.join(root, name, "*.parquet").replace("'", "''")


class StoreView:
    """DuckDB connection exposing ``q(s, p, o, onum, g)``: one row per
    stored quad, terms decoded through ``id2term``."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")

    def refresh(self) -> None:
        # re-globbed on every refresh: appends add files, rewrites replace them
        self.con.execute(
            f"CREATE OR REPLACE TEMP VIEW d AS SELECT id, label "
            f"FROM read_parquet('{_parquet(self.root, 'id2term')}')")
        self.con.execute(
            "CREATE OR REPLACE TEMP VIEW q AS SELECT ts.label AS s, tp.label AS p, "
            "CASE WHEN x.o_kind = 2 THEN NULL ELSE tob.label END AS o, "
            "CASE WHEN x.o_kind = 2 THEN x.o_num END AS onum, tg.label AS g "
            f"FROM read_parquet('{_parquet(self.root, 'triples_spo')}') x "
            "JOIN d ts ON ts.id = x.s JOIN d tp ON tp.id = x.p "
            "LEFT JOIN d tob ON tob.id = x.o LEFT JOIN d tg ON tg.id = x.c")

    def rows(self, sql: str) -> list[tuple]:
        self.refresh()
        return self.con.execute(sql).fetchall()

    def quads(self) -> int:
        return self.rows("SELECT count(*) FROM q")[0][0]

    def digest(self) -> str:
        """Order-independent hash of the decoded quad set."""
        rows = self.rows("SELECT s, p, o, onum, g FROM q ORDER BY ALL")
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    def close(self) -> None:
        self.con.close()


def store_bytes(root: str) -> int:
    """On-disk bytes of the index and dictionary parquet files."""
    total = 0
    for d in INDEX_DIRS + DICT_DIRS:
        path = os.path.join(root, d)
        for name in os.listdir(path):
            if name.endswith(".parquet"):
                total += os.path.getsize(os.path.join(path, name))
    return total


def files_per_index(root: str) -> float:
    return sum(
        sum(n.endswith(".parquet") for n in os.listdir(os.path.join(root, d)))
        for d in INDEX_DIRS
    ) / len(INDEX_DIRS)


# -- result normalisation ----------------------------------------------------

def norm_value(v):
    """Comparable form of one value: numbers, and strings that spell one,
    become floats rounded to 6 places (the engine renders numerics as
    doubles, DuckDB as integers or decimals)."""
    if v is None:
        return v
    if isinstance(v, (int, float)):
        return round(float(v), 6)
    if isinstance(v, str) and _NUM.match(v):
        return round(float(v), 6)
    return v


def _json_term(t: dict | None):
    if t is None:
        return None
    v = t["value"]
    if t["type"] == "bnode":
        return "_:" + v
    if t["type"] == "literal":
        if "xml:lang" in t:
            return f'"{v}"@{t["xml:lang"]}'
        dt = t.get("datatype")
        if dt in _XSD_NUM:
            return round(float(v), 6)
        if dt:
            return f'"{v}"^^<{dt}>'
    return norm_value(v)


def service_rows(form: str, body: bytes):
    """HTTP response body → comparable result (sorted rows, or a set for
    CONSTRUCT)."""
    if form == "construct":
        out = set()
        for line in body.decode().splitlines():
            m = re.match(r"^<([^>]*)> <[^>]*> <([^>]*)> \.$", line.strip())
            if m:
                out.add((m.group(1), m.group(2)))
            elif line.strip():
                raise ValueError(f"unexpected N-Triples line {line!r}")
        return out
    payload = json.loads(body)
    names = payload["head"]["vars"]
    rows = [tuple(_json_term(b.get(n)) for n in names)
            for b in payload["results"]["bindings"]]
    return sorted(rows, key=repr)


def duck_rows(form: str, rows: list[tuple]):
    norm = [tuple(norm_value(v) for v in r) for r in rows]
    if form == "construct":
        return set(norm)
    return sorted(norm, key=repr)
