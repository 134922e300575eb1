"""Seeded input for the ``db_migrate`` workload.

A SQLite database shaped like f1db: a few tables hold about 90% of
the rows and the rest are small reference tables. Tables carry primary
keys, secondary indexes and foreign keys, and text, integer, real,
numeric, datetime and boolean columns. Values are drawn with NumPy and
inserted with ``executemany``; the same seed gives the same database.

For every table the generator also writes the rows as PostgreSQL
should hold them after the migration (CSV, with the types the SQLite
cast rules choose: integer -> bigint, real -> double precision,
numeric(p,s) -> numeric(p,s), datetime -> timestamptz, boolean ->
boolean), plus a manifest of row counts, keys, indexes and foreign
keys.
"""

from __future__ import annotations

import json
import os
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

PG_TYPES = {
    "integer": "bigint", "text": "text", "real": "double precision",
    "numeric(10,3)": "numeric(10,3)", "datetime": "timestamptz",
    "boolean": "boolean",
}

# name, share of the big rows or a fixed small row count, columns
# (name, type) after the integer primary key ``id``, foreign keys
# (column -> table), secondary index columns
TABLES = [
    ("circuits", 80, [("name", "text"), ("location", "text"), ("lat", "real"),
                      ("lng", "real"), ("opened", "datetime")], {}, ["name"]),
    ("drivers", 860, [("code", "text"), ("forename", "text"), ("surname", "text"),
                      ("dob", "datetime"), ("nationality", "text"),
                      ("active", "boolean")], {}, ["surname"]),
    ("races", 1100, [("season", "integer"), ("circuit_id", "integer"),
                     ("round", "integer"), ("name", "text"), ("starts_at", "datetime")],
     {"circuit_id": "circuits"}, ["starts_at"]),
    ("lap_times", 0.62, [("race_id", "integer"), ("driver_id", "integer"),
                         ("lap", "integer"), ("position", "integer"),
                         ("millis", "integer"), ("delta", "numeric(10,3)")],
     {"race_id": "races", "driver_id": "drivers"}, ["race_id", "driver_id"]),
    ("results", 0.23, [("race_id", "integer"), ("driver_id", "integer"),
                       ("team", "text"), ("status", "integer"),
                       ("grid", "integer"), ("points", "numeric(10,3)"),
                       ("fastest_ms", "real"), ("finished", "boolean"),
                       ("recorded_at", "datetime"), ("note", "text")],
     {"race_id": "races", "driver_id": "drivers"}, ["race_id"]),
    ("pit_stops", 0.15, [("race_id", "integer"), ("driver_id", "integer"),
                         ("stop", "integer"), ("millis", "integer"),
                         ("at", "datetime")],
     {"race_id": "races", "driver_id": "drivers"}, ["driver_id"]),
]

_WORDS = np.array([
    "Monza", "Silverstone", "Spa", "Suzuka", "Interlagos", "Monaco",
    "Hockenheim", "Zandvoort", "Imola", "Montréal", "São Paulo", "Räikkönen",
    "Hamilton", "Senna", "Prost", "Lauda", "Schumacher", "Alonso",
    "O'Brien", "Vettel", "Häkkinen", "Villeneuve", "Pérez", "Leclerc",
], dtype=object)


def _column(rng, typ: str, n: int, fk_rows: int | None) -> np.ndarray:
    if fk_rows is not None:
        return rng.integers(1, fk_rows + 1, n)
    if typ == "integer":
        return rng.integers(-50_000, 2_000_000, n)
    if typ == "real":
        return np.round(rng.normal(0, 1000, n), 3)
    if typ == "numeric(10,3)":
        return rng.integers(-999_999, 9_999_999, n)  # thousandths
    if typ == "boolean":
        return rng.random(n) < 0.5
    if typ == "datetime":
        return np.datetime64("1950-01-01T00:00:00") + rng.integers(
            0, 70 * 365 * 86400, n).astype("timedelta64[s]")
    a = _WORDS[rng.integers(0, len(_WORDS), n)]
    b = rng.integers(0, 1000, n).astype(str).astype(object)
    return a + " " + b


def _thousandths(col: np.ndarray) -> list[str]:
    return [f"{v / 1000:.3f}" for v in col.tolist()]


def _sqlite_value(typ: str, col: np.ndarray) -> list:
    if typ == "numeric(10,3)":
        return _thousandths(col)
    if typ == "boolean":
        return col.astype(int).tolist()
    if typ == "datetime":
        return np.char.replace(col.astype(str), "T", " ").tolist()
    return col.tolist()


def _expected_array(typ: str, col: np.ndarray) -> pa.Array:
    return pa.array(_thousandths(col) if typ == "numeric(10,3)" else col)


def table_rows(total_big: int) -> dict[str, int]:
    return {
        name: int(size * total_big) if isinstance(size, float) else size
        for name, size, *_ in TABLES
    }


def generate(out_dir: str, seed: int, total_big: int) -> dict:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    db = os.path.join(out_dir, "f1.sqlite")
    if os.path.exists(db):
        os.unlink(db)
    rows = table_rows(total_big)
    con = sqlite3.connect(db)
    manifest: dict = {"seed": seed, "tables": {}}
    try:
        for name, _size, cols, fks, idx in TABLES:
            n = rows[name]
            defs = ["id integer PRIMARY KEY"] + [
                f"{c} {t}" + (f" REFERENCES {fks[c]} (id)" if c in fks else "")
                for c, t in cols
            ]
            con.execute(f"CREATE TABLE {name} ({', '.join(defs)})")
            for c in idx:
                con.execute(f"CREATE INDEX {name}_{c}_idx ON {name} ({c})")
            ids = np.arange(1, n + 1, dtype=np.int64)
            data = {c: _column(rng, t, n, rows[fks[c]] if c in fks else None)
                    for c, t in cols}
            nulls = {c: rng.random(n) < 0.02 for c, t in cols if c not in fks}
            values = [ids.tolist()] + [_sqlite_value(t, data[c]) for c, t in cols]
            for k, (c, _t) in enumerate(cols, start=1):
                if c in nulls:
                    for i in np.flatnonzero(nulls[c]).tolist():
                        values[k][i] = None
            ph = ", ".join("?" * (len(cols) + 1))
            con.executemany(f"INSERT INTO {name} VALUES ({ph})", zip(*values))

            arrays = {"id": pa.array(ids)}
            for c, t in cols:
                arr = _expected_array(t, data[c])
                if c in nulls:
                    arr = pc.if_else(pa.array(nulls[c]), pa.scalar(None, arr.type), arr)
                arrays[c] = arr
            pacsv.write_csv(
                pa.table(arrays), os.path.join(out_dir, f"{name}.expected.csv"),
                pacsv.WriteOptions(include_header=False, quoting_style="needed"),
            )
            manifest["tables"][name] = {
                "rows": n,
                "columns": [["id", "bigint"]] + [[c, PG_TYPES[t]] for c, t in cols],
                "indexes": [[c] for c in idx],
                "foreign_keys": [[c, fks[c]] for c in fks],
            }
        con.commit()
    finally:
        con.close()
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest
