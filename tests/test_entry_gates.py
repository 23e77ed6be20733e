"""Every ``queries()`` gate against its ``oracle_sql()`` twin, in pytest.

``scripts/check_entry.py`` runs the same comparison over an sf
directory on disk; here the ``documents`` and ``events`` tables are
generated in a temp dir with the shape of the sf data (doc_id/text
over a closed 31-word vocabulary, events of five types over 30 days),
so each gate is checked on every test run without external data.
The comparison itself is the script's: int/float dtype drift fails,
then row count, columns and order-insensitive values must agree.
"""

import importlib.util
import random
import sys
from datetime import datetime, timedelta
from pathlib import Path

import duckdb
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[1]


def _load(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


entrymod = _load("__spark_entry__", ROOT / "__spark_entry__.py")
check = _load("check_entry", ROOT / "scripts" / "check_entry.py")

WORDS = (
    "scan column window order sort part agg value line key join merge "
    "group query a vector hash slow stream filter fast the batch spark "
    "table small data big customer row"
).split()
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


def documents(n: int, seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        words = [rng.choice(WORDS) for _ in range(rng.randint(10, 60))]
        if i % 17 == 0:
            words += ["dup"] * 3
        text = " ".join(words)
        rows.append((i, text, rng.choice(["en", "fr", "de"]), f"src{i % 5}", len(text)))
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])


def events(n: int, seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    t0 = datetime(2024, 1, 1)
    rows = [
        (
            i,
            t0 + timedelta(seconds=rng.randint(0, 30 * 86400 - 1),
                           microseconds=rng.randint(0, 999_999)),
            rng.randint(0, 14),
            rng.choice(EVENT_TYPES),
            round(rng.expovariate(1 / 50), 2),
            f'{{"k": {rng.randint(0, 99)}}}',
        )
        for i in range(n)
    ]
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df.sort_values("ts").reset_index(drop=True)


@pytest.fixture(scope="module")
def sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf")
    documents(60, seed=7).to_parquet(d / "documents.parquet", index=False)
    events(300, seed=7).to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.fixture(scope="module")
def con(sf):
    c = duckdb.connect()
    for t in check.TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    yield c
    c.close()


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_gate_matches_oracle(spark, sf, con, name):
    got = entrymod.queries()[name](spark, sf).toPandas()
    want = con.sql(entrymod.oracle_sql()[name]).df()
    assert check.dtype_drift(got, want) == []
    g, w = check.normalize(got), check.normalize(want)
    assert list(g.columns) == list(w.columns)
    assert len(g) == len(w)
    neq = (g != w).any(axis=1)
    assert g.equals(w), pd.concat([g[neq].head(3), w[neq].head(3)]).to_string()
