"""Reference result hashes for the served plans, from their DuckDB oracles.

A served plan is correct when the hash of its Spark result equals the
hash of its ``__spark_entry__.oracle_sql()`` twin run by DuckDB over
the same fixture. Both sides go through the compare that
``tools/driver_sweep.py`` uses: pandas frames, columns sorted by name,
rows sorted, every cell stringified through its pandas dtype.

The hashes for the fixture ``perfbench/fixtures.py`` writes are stored
in ``perfbench/reference_hashes.json``, keyed by the fixture
fingerprint. Re-derive them (about a minute) with:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
STORE = os.path.join(HERE, "reference_hashes.json")


def result_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols).reset_index(drop=True)
    h = hashlib.sha256("\x1f".join(cols).encode())
    for row in pdf.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(str(v) for v in row)).encode())
    return h.hexdigest()[:20]


def derive(sf_dir: str, names: list[str]) -> dict[str, str]:
    import duckdb

    import __spark_entry__

    from fixtures import TABLES

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    try:
        return {name: result_hash(con.execute(sql[name]).df()) for name in names}
    finally:
        con.close()


def load(fixture_fp: str) -> dict[str, str]:
    """Stored hashes for this fixture, or {} when none are stored."""
    try:
        with open(STORE) as fh:
            stored = json.load(fh)
    except FileNotFoundError:
        return {}
    return stored.get(fixture_fp, {}) if isinstance(stored, dict) else {}


def main() -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from fixtures import ensure_fixture
    from serving import PLAN_SETS

    names = sorted({n for plans in PLAN_SETS.values() for n in plans})
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        sf_dir = os.path.join(tmp, "sf0.1")
        fp = ensure_fixture(sf_dir)
        hashes = derive(sf_dir, names)
    with open(STORE, "w") as fh:
        json.dump({fp: hashes}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(hashes)} hashes for fixture {fp} -> {STORE}")


if __name__ == "__main__":
    main()
