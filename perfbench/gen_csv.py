"""Seeded input for the ``csv_load`` workload.

Three CSV files of bike-share trips, shaped like the reference's
divvy bench: quoted station names with embedded separators and
doubled quotes, timestamps, numerics, booleans, a date column with
MySQL-style zero dates (sent through the ``zero-dates-to-null`` USING
transform), and a small share of malformed integers (``x9`` in
``bike_id``). Generation is vectorized: the same seed gives the same
bytes.

Next to the files it writes the ground truth: the good rows as
CSV (loaded by the benchmark into its own schema and
compared with the target) and a manifest with the row counts and the
malformed row ids.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

MALFORMED_SHARE = 0.001
FILE_SHARES = (0.45, 0.35, 0.20)

TABLE_DDL = """
CREATE TABLE {name} (
  trip_id bigint PRIMARY KEY,
  start_time timestamp,
  end_time timestamp,
  bike_id integer,
  duration numeric(10,2),
  from_station text,
  to_station text,
  user_type text,
  member boolean,
  birth_date date
)"""
INDEX_DDL = "CREATE INDEX {name}_start_idx ON {name} (start_time)"

FIELDS = ["trip_id", "start_time", "end_time", "bike_id", "duration",
          "from_station", "to_station", "user_type", "member", "birth_date"]

_STREETS = [
    "Clark", "State", "Halsted", "Wabash", "Lake Shore", "Michigan",
    "Damen", "Ashland", "Western", "Racine", "Wells", "Dearborn",
    "Canal", "Kedzie", "Pulaski", "Cicero", "Broadway", "Sheridan",
]
_CROSS = [
    "Lake", "Madison", "Monroe", "Adams", "Jackson", "Van Buren",
    "Harrison", "Polk", "Roosevelt", "Division", "North", "Armitage",
    "Fullerton", "Belmont", "Addison", "Irving Park", "Montrose",
]


def _stations() -> pa.Array:
    names = [f"{a} St, {b} Ave" for a in _STREETS for b in _CROSS]
    # a few names carry quotes, which CSV doubles inside a quoted field
    return pa.array(
        [f'The "{n}" Hub' if i % 37 == 0 else n for i, n in enumerate(names)]
    )


def _write(table: pa.Table, path: str) -> None:
    pacsv.write_csv(
        table, path,
        pacsv.WriteOptions(include_header=False, quoting_style="needed"),
    )


def _text(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def generate(out_dir: str, seed: int, n_rows: int) -> dict:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ids = np.arange(1, n_rows + 1, dtype=np.int64)
    start = np.datetime64("2019-01-01T00:00:00") + rng.integers(
        0, 365 * 86400, n_rows).astype("timedelta64[s]")
    secs = rng.integers(60, 7200, n_rows)
    end = start + secs.astype("timedelta64[s]")
    bike = rng.integers(1, 6000, n_rows)
    cents = secs * 100 // 60 + rng.integers(0, 100, n_rows)
    duration = pc.binary_join_element_wise(
        _text(cents // 100), pc.utf8_lpad(_text(cents % 100), 2, "0"), ".")
    stations = _stations()
    frm = stations.take(pa.array(rng.integers(0, len(stations), n_rows)))
    to = stations.take(pa.array(rng.integers(0, len(stations), n_rows)))
    user_type = pa.array(np.where(rng.random(n_rows) < 0.8, "Subscriber", "Customer"))
    member = pa.array(rng.random(n_rows) < 0.7)
    birth = pa.array(np.datetime64("1940-01-01")
                     + rng.integers(0, 60 * 365, n_rows).astype("timedelta64[D]"))
    zero = rng.random(n_rows) < 0.05
    empty = ~zero & (rng.random(n_rows) < 0.05)
    birth_txt = pc.if_else(pa.array(zero), "0000-00-00", _text(birth))
    birth_txt = pc.if_else(pa.array(empty), pa.scalar(None, pa.string()), birth_txt)

    n_bad = max(1, int(round(n_rows * MALFORMED_SHARE)))
    bad = np.zeros(n_rows, bool)
    bad[rng.choice(n_rows, n_bad, replace=False)] = True
    bike_txt = pc.if_else(
        pa.array(bad), pc.binary_join_element_wise("x", _text(bike % 10), ""),
        _text(bike))

    cols = {
        "trip_id": pa.array(ids), "start_time": pa.array(start),
        "end_time": pa.array(end), "bike_id": bike_txt, "duration": duration,
        "from_station": frm, "to_station": to, "user_type": user_type,
        "member": member, "birth_date": birth_txt,
    }
    csv = pa.table(cols)
    bounds = [0, *np.cumsum([int(n_rows * s) for s in FILE_SHARES[:-1]]), n_rows]
    files = []
    for k in range(len(FILE_SHARES)):
        name = f"trips_{k + 1:02d}.csv"
        _write(csv.slice(bounds[k], bounds[k + 1] - bounds[k]), os.path.join(out_dir, name))
        files.append(name)

    # the good rows as PostgreSQL should hold them (COPY csv: an
    # unquoted empty field is NULL)
    cols["bike_id"] = pa.array(bike)
    cols["birth_date"] = pc.if_else(
        pa.array(zero | empty), pa.scalar(None, pa.date32()), birth)
    _write(pa.table(cols).filter(pa.array(~bad)), os.path.join(out_dir, "expected.csv"))
    manifest = {
        "seed": seed, "rows": n_rows, "files": files,
        "malformed_ids": ids[bad].tolist(), "good_rows": int(n_rows - n_bad),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest
