"""The benchmark's workloads: what one pass runs and how its result is
checked against the generator's ground truth.

Both drive the program's command-line entry point in-process
(``pgloader_spark.cli.main`` on a ``.load`` file) into the
benchmark's own PostgreSQL server. The ground truth is loaded into a
``bench_expected`` schema of that server during set-up, by plain
COPY, so the checks compare rows inside the server.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
from dataclasses import dataclass, field

import gen_csv
import gen_sqlite


@dataclass
class Check:
    attempted: int
    failed: int
    correct: bool
    landed: int  # rows in the target
    # failures that are the documented silent-NULL cast defect
    known_defect: int = 0
    notes: list[str] = field(default_factory=list)


def _copy_csv(pg, table: str, path: str) -> None:
    from pgloader_spark.sources.pgwire import PGConn

    def chunks():
        with open(path, "rb") as fh:
            while block := fh.read(1 << 20):
                yield block

    with PGConn(pg.dsn) as conn:
        conn.copy_in(f"COPY {table} FROM STDIN WITH (FORMAT csv)", chunks())


def _scalar(pg, sql: str) -> int:
    return int(pg.query(sql)[1][0][0])


def _run_cli(load_file: str, root_dir: str, log: str) -> None:
    from pgloader_spark.cli import main

    with open(log, "a") as fh, contextlib.redirect_stdout(fh):
        rc = main([load_file, "--root-dir", root_dir, "-q", "--summary", "json"])
    if rc != 0:
        raise RuntimeError(f"LOAD exited {rc}; see {log}")


class CsvLoad:
    """Three CSV files, one ``LOAD CSV ... FILENAMES MATCHING`` into a
    pre-created table with a primary key and a secondary index."""

    name = "csv_load"
    rows = 200_000

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "csv")
        self.rejects = os.path.join(work, "rejects")
        self.load_file = os.path.join(work, "trips.load")

    def generate(self) -> None:
        self.manifest = gen_csv.generate(self.inputs, self.seed, self.rows)

    def prepare(self, pg) -> None:
        pg.query(gen_csv.TABLE_DDL.format(name="trips"))
        pg.query(gen_csv.INDEX_DDL.format(name="trips"))
        fields = ", ".join(gen_csv.FIELDS)
        with open(self.load_file, "w") as fh:
            fh.write(
                "LOAD CSV\n"
                f"  FROM ALL FILENAMES MATCHING ~/trips_.*\\.csv$/ IN DIRECTORY '{self.inputs}'\n"
                f"  ({fields})\n"
                f"  INTO {pg.dsn}?trips\n"
                "  (trip_id bigint, start_time timestamp, end_time timestamp,\n"
                "   bike_id integer, duration numeric, from_station text,\n"
                "   to_station text, user_type text, member boolean,\n"
                "   birth_date date using (zero-dates-to-null birth_date))\n"
                "  WITH truncate, drop indexes, fields optionally enclosed by '\"',\n"
                "       fields escaped by double-quote, fields terminated by ',';\n"
            )

    def load_truth(self, pg) -> None:
        pg.query("CREATE SCHEMA bench_expected")
        pg.query(gen_csv.TABLE_DDL.format(name="bench_expected.trips"))
        _copy_csv(pg, "bench_expected.trips", os.path.join(self.inputs, "expected.csv"))
        pg.query("CREATE TABLE bench_expected.malformed (trip_id bigint PRIMARY KEY)")
        ids = ",".join(f"({i})" for i in self.manifest["malformed_ids"])
        pg.query(f"INSERT INTO bench_expected.malformed VALUES {ids}")
        pg.query("ANALYZE")

    def before_pass(self, pg) -> None:
        shutil.rmtree(self.rejects, ignore_errors=True)
        pg.checkpoint()

    def run_pass(self) -> None:
        _run_cli(self.load_file, self.rejects, os.path.join(self.work, "load.log"))

    def source_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(self.inputs, f))
                   for f in self.manifest["files"])

    def _rejected_ids(self) -> set[int]:
        """trip_ids in the reject file: ``<root>/<db>/trips.dat``, a
        plain file or a directory of Spark part files."""
        ids: set[int] = set()
        first_field = re.compile(r"\d+")
        for top, _dirs, files in os.walk(self.rejects):
            in_dat = os.path.basename(top) == "trips.dat"
            for f in files:
                if f.startswith((".", "_")) or not (in_dat or f == "trips.dat"):
                    continue
                with open(os.path.join(top, f)) as fh:
                    ids.update(int(m.group()) for m in map(first_field.match, fh) if m)
        return ids

    def check(self, pg) -> Check:
        n_rows = self.manifest["rows"]
        n_good = self.manifest["good_rows"]
        _, [(landed, good_ok, bad_null, bad_landed)] = pg.query(
            "SELECT (SELECT count(*) FROM trips),"
            " (SELECT count(*) FROM (SELECT * FROM trips"
            "   INTERSECT ALL SELECT * FROM bench_expected.trips) x),"
            " (SELECT count(*) FROM trips JOIN bench_expected.malformed"
            "   USING (trip_id) WHERE bike_id IS NULL),"
            " (SELECT count(*) FROM trips JOIN bench_expected.malformed USING (trip_id))"
        )
        landed, good_ok, bad_null, bad_landed = map(
            int, (landed, good_ok, bad_null, bad_landed))
        rejected = self._rejected_ids()
        malformed = set(self.manifest["malformed_ids"])
        bad_rejected = len(rejected & malformed)
        notes = []
        correct = True
        if good_ok != n_good:
            correct = False
            notes.append(f"{n_good - good_ok} good rows missing or wrong")
        if landed != good_ok + bad_landed:
            correct = False
            notes.append(f"{landed - good_ok - bad_landed} unexpected rows in target")
        if rejected - malformed:
            correct = False
            notes.append(f"{len(rejected - malformed)} good rows rejected")
        if bad_landed != bad_null or bad_null + bad_rejected != len(malformed):
            correct = False
            notes.append("malformed rows neither rejected nor loaded as NULL")
        indexes = {r[0] for r in pg.query(
            "SELECT indexname FROM pg_indexes"
            " WHERE schemaname = 'public' AND tablename = 'trips'")[1]}
        if indexes != {"trips_pkey", "trips_start_idx"}:
            correct = False
            notes.append(f"indexes after load: {sorted(indexes)}")
        if bad_null:
            notes.append(f"known defect: {bad_null} malformed rows loaded with "
                         "bike_id NULL instead of rejected")
        return Check(attempted=n_rows, failed=n_rows - good_ok - bad_rejected,
                     correct=correct, landed=landed, known_defect=bad_null, notes=notes)


class DbMigrate:
    """A SQLite database migrated by ``LOAD DATABASE ... WITH create
    tables, create indexes, foreign keys, reset sequences``."""

    name = "db_migrate"
    big_rows = 60_000

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "sqlite")
        self.load_file = os.path.join(work, "f1.load")

    def generate(self) -> None:
        self.manifest = gen_sqlite.generate(self.inputs, self.seed, self.big_rows)

    def prepare(self, pg) -> None:
        with open(self.load_file, "w") as fh:
            fh.write(
                f"LOAD DATABASE FROM sqlite://{self.inputs}/f1.sqlite\n"
                f"  INTO {pg.dsn}\n"
                "  WITH create tables, create indexes, foreign keys, reset sequences;\n"
            )

    def load_truth(self, pg) -> None:
        pg.query("CREATE SCHEMA bench_expected")
        self.checksums = {}
        for name, spec in self.manifest["tables"].items():
            cols = ", ".join(f'"{c}" {t}' for c, t in spec["columns"])
            pg.query(f"CREATE TABLE bench_expected.{name} ({cols})")
            _copy_csv(pg, f"bench_expected.{name}",
                      os.path.join(self.inputs, f"{name}.expected.csv"))
            self.checksums[name] = self._checksum(pg, f"bench_expected.{name}")
        self.manifest["checksums"] = self.checksums
        with open(os.path.join(self.inputs, "manifest.json"), "w") as fh:
            json.dump(self.manifest, fh)

    @staticmethod
    def _checksum(pg, table: str) -> tuple[int, int]:
        """(rows, order-independent sum of per-row hashes)."""
        _, [(n, s)] = pg.query(
            f"SELECT count(*), coalesce(sum(hashtext(t::text)::bigint), 0) FROM {table} t")
        return int(n), int(s)

    def before_pass(self, pg) -> None:
        pg.checkpoint()

    def run_pass(self) -> None:
        _run_cli(self.load_file, os.path.join(self.work, "rejects"),
                 os.path.join(self.work, "load.log"))

    def source_bytes(self) -> int:
        return os.path.getsize(os.path.join(self.inputs, "f1.sqlite"))

    def check(self, pg) -> Check:
        attempted = failed = landed = 0
        notes: list[str] = []
        for name, spec in self.manifest["tables"].items():
            attempted += spec["rows"]
            got = self._checksum(pg, f"public.{name}")
            landed += got[0]
            if got == tuple(self.checksums[name]):
                continue
            cols = ", ".join(f'"{c}"' for c, _ in spec["columns"])
            _, [(landed, ok)] = pg.query(
                f"SELECT (SELECT count(*) FROM public.{name}),"
                f" (SELECT count(*) FROM (SELECT {cols} FROM public.{name}"
                f"   INTERSECT ALL SELECT {cols} FROM bench_expected.{name}) x)")
            failed += spec["rows"] - int(ok)
            notes.append(f"{name}: {spec['rows'] - int(ok)} rows missing or wrong, "
                         f"{int(landed) - int(ok)} unexpected")
        notes += self._check_schema(pg)
        return Check(attempted=attempted, failed=failed,
                     correct=failed == 0 and not notes, landed=landed, notes=notes)

    def _check_schema(self, pg) -> list[str]:
        notes = []
        idx = pg.query(
            "SELECT t.relname, a.attname, i.indisprimary FROM pg_index i"
            " JOIN pg_class t ON t.oid = i.indrelid"
            " JOIN pg_namespace n ON n.oid = t.relnamespace AND n.nspname = 'public'"
            " JOIN pg_attribute a ON a.attrelid = t.oid AND a.attnum = ANY(i.indkey)"
            " WHERE i.indnatts = 1")[1]
        have = {(t, c, p == "t") for t, c, p in idx}
        fks = {(t, c, r) for t, c, r in pg.query(
            "SELECT c.conrelid::regclass::text, a.attname, c.confrelid::regclass::text"
            " FROM pg_constraint c JOIN pg_attribute a"
            "   ON a.attrelid = c.conrelid AND a.attnum = c.conkey[1]"
            " WHERE c.contype = 'f'")[1]}
        for name, spec in self.manifest["tables"].items():
            if (name, "id", True) not in have:
                notes.append(f"{name}: primary key missing")
            for (col,) in spec["indexes"]:
                if (name, col, False) not in have:
                    notes.append(f"{name}: index on {col} missing")
            for col, ref in spec["foreign_keys"]:
                if (name, col, ref) not in fks:
                    notes.append(f"{name}: foreign key {col} -> {ref} missing")
        # reset sequences: every sequence owned by a column is past its max
        for seq, table, col in pg.query(
                "SELECT s.relname, t.relname, a.attname FROM pg_depend d"
                " JOIN pg_class s ON s.oid = d.objid AND s.relkind = 'S'"
                " JOIN pg_class t ON t.oid = d.refobjid"
                " JOIN pg_attribute a ON a.attrelid = t.oid AND a.attnum = d.refobjsubid")[1]:
            last = _scalar(pg, f'SELECT coalesce(last_value, 0) FROM "{seq}"')
            top = _scalar(pg, f'SELECT coalesce(max("{col}"), 0) FROM "{table}"')
            if last < top:
                notes.append(f"sequence {seq} at {last} below max {table}.{col} {top}")
        return notes


WORKLOADS = {w.name: w for w in (CsvLoad, DbMigrate)}
