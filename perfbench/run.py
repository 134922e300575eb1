"""Benchmark entry point.

    python3 perfbench/run.py --workload csv_load --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One invocation sets up (inputs from
``--seed``, a PostgreSQL server of its own, a Spark session at
``local[<cpus>]``, ``WARMUP_PASSES`` warm-up passes), then runs passes in a
closed loop with one client -- the next pass starts when the previous
one has finished and been checked -- until ``--seconds`` have passed
and at least ``MIN_PASSES`` have run. Each pass is checked against the
generator's ground truth, outside the timed window.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
(medians over passes); with ``--trace 1`` half the window runs
untraced and half traced, and it carries the per-layer metrics
(medians over traced passes) plus the tracing overhead. A run record
with the host fingerprint and every pass goes to
``.perfbench/results/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
import session  # noqa: E402
from pgserver import SETTINGS, PGServer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIN_PASSES = 3
# the first pass pays Python-worker start and codegen; the one after
# it still read 5-20% slower than later passes
WARMUP_PASSES = 2
# --trace 1: at least two untraced passes, then at least one traced one
# (probes make a traced pass two to four times as long)
MIN_TRACE_RUN_PASSES = (2, 1)
SETUP_ROUNDS = 3


def _with_units(values: dict, specs: list[dict]) -> dict:
    """The metrics BENCHMARK.json names, in its order, with its units."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}


def _pg_counters(pg) -> tuple[int, str]:
    _, [(commits, lsn)] = pg.query(
        "SELECT xact_commit, pg_current_wal_lsn() FROM pg_stat_database"
        " WHERE datname = current_database()")
    return int(commits), lsn


class Bench:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
        self.servers: list[PGServer] = []
        self.passes: list[dict] = []

    # -- set-up --------------------------------------------------------
    def setup(self) -> dict:
        """Inputs and server ``SETUP_ROUNDS`` times (the last one is
        kept), then the Spark session and the warm-up passes once. Loading
        the ground truth for the checks is the benchmark's own work and
        is not counted."""
        rounds = []
        for k in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl = WORKLOADS[self.args.workload](
                os.path.join(self.work, f"round{k}"), self.args.seed)
            wl.generate()
            pg = PGServer(os.path.join(wl.work, "pg"))
            self.servers.append(pg)
            pg.start()
            wl.prepare(pg)
            rounds.append(time.perf_counter() - t0)
            if k < SETUP_ROUNDS - 1:
                pg.stop()
        self.wl, self.pg = wl, pg
        wl.load_truth(pg)
        t0 = time.perf_counter()
        self.spark = session.start_spark()
        spark_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            self.before_pass()
            self.wl.run_pass()
        warmup_s = time.perf_counter() - t0
        return {"rounds_s": rounds, "spark_s": spark_s, "warmup_s": warmup_s,
                "setup_s": statistics.median(rounds) + spark_s + warmup_s}

    # -- passes --------------------------------------------------------
    def run_passes(self, seconds: float, traced: bool, min_passes: int) -> list[dict]:
        out = []
        deadline = time.perf_counter() + seconds
        while len(out) < min_passes or time.perf_counter() < deadline:
            out.append(self.one_pass(traced))
        self.passes += out
        return out

    def before_pass(self) -> None:
        # A load leaves its result cached, and an identical plan in the
        # next pass would be served from that cache instead of the
        # source files; a user's fresh process never sees it.
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)  # clearCache does not wait for the blocks
        # start every pass from a collected heap, in the JVM and here, so
        # a collection the previous pass left due does not land in it
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()
        self.wl.before_pass(self.pg)
        # with fsync off, CHECKPOINT leaves its writes in the page cache;
        # flush them so one pass's writeback does not land in the next
        os.sync()

    def one_pass(self, traced: bool) -> dict:
        self.before_pass()
        tracer = None
        if traced:
            from tracing import Tracer

            tracer = Tracer(self.spark, prefix=f"p{len(self.passes)}")
            tracer.install()
        commits0, lsn0 = _pg_counters(self.pg)
        pg_cpu0 = host.tree_cpu_s(self.pg.proc.pid)
        cpu0 = host.tree_cpu_s()
        steal0 = host.steal_s()
        t0 = time.perf_counter()
        try:
            if tracer:
                with tracer.span("pass"):
                    self.wl.run_pass()
            else:
                self.wl.run_pass()
        finally:
            wall = time.perf_counter() - t0
            cpu = host.tree_cpu_s() - cpu0
            if tracer:
                tracer.uninstall()
        rec = {"traced": traced, "wall_s": wall, "cpu_s": cpu,
               "steal_s": host.steal_s() - steal0}
        check = self.wl.check(self.pg)
        rec.update(attempted=check.attempted, failed=check.failed,
                   correct=check.correct, known_defect=check.known_defect,
                   notes=check.notes, rows_landed=check.landed)
        if tracer:
            rec["layers"], rec["spans"] = self.layers(tracer)
            commits1, lsn1 = _pg_counters(self.pg)
            _, [(wal,)] = self.pg.query(f"SELECT pg_wal_lsn_diff('{lsn1}', '{lsn0}')")
            rec["layers"]["pg.xact_commits"] = commits1 - commits0
            rec["layers"]["pg.wal_mb"] = float(wal) / 1e6
            rec["layers"]["pg.server_cpu_s"] = host.tree_cpu_s(self.pg.proc.pid) - pg_cpu0
        return rec

    def layers(self, tracer) -> tuple[dict, list]:
        self_s, file_read = tracer.self_totals()
        totals, per_span = tracer.stage_metrics()
        out = {f"{name}_s": secs for name, secs in self_s.items() if name != "pass"}
        out["trace.unattributed_s"] = self_s.get("pass", 0.0)
        out.update(tracer.counts)
        # full reads of the load's source files (0 for sources Spark does
        # not read through its file system, like SQLite)
        out["spark.input_scans"] = file_read / self.wl.source_bytes()
        for key in ("jobs", "stages", "tasks", "run_s", "cpu_s",
                    "gc_s", "shuffle_mb", "spill_mb"):
            out[f"spark.{key}"] = totals.get(key, 0)
        out["spark.wait_s"] = totals.get("run_s", 0) - totals.get("cpu_s", 0)
        out["python.stage_run_s"] = totals.get("python_run_s", 0)
        out["python.stage_cpu_s"] = totals.get("python_cpu_s", 0)
        copy_tasks = [r["tasks"] for r in per_span.values() if r["span"] == "pg_live.copy"]
        out["pg_live.copy_streams"] = statistics.median(copy_tasks) if copy_tasks else 0
        spans = [
            {"name": s["name"], "label": s["label"], "dur_s": s["end"] - s["start"],
             "file_read_mb": (s["read1"] - s["read0"]) / 1e6}
            | per_span.get(s["id"], {})
            for s in tracer.spans
        ]
        if tracer.skipped:
            print(f"trace: not wrapped (missing): {tracer.skipped}", file=sys.stderr)
        return out, spans

    def close(self) -> None:
        for pg in self.servers:
            pg.stop()
        shutil.rmtree(self.work, ignore_errors=True)


def _median(passes: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in passes)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pgloader_spark
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(pgloader_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: pgloader_spark imported from outside the checkout: "
              f"{pgloader_spark.__file__}", file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the finally blocks that stop the server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host.adopt_orphans()
    fingerprint = host.Fingerprint()
    bench = Bench(args)
    os.makedirs(bench.work, exist_ok=True)
    env = session.configure(bench.work)
    try:
        setup = bench.setup()
        if args.trace:
            plain = bench.run_passes(args.seconds / 2, False, MIN_TRACE_RUN_PASSES[0])
            traced = bench.run_passes(args.seconds / 2, True, MIN_TRACE_RUN_PASSES[1])
        else:
            plain = bench.run_passes(args.seconds, False, MIN_PASSES)
            traced = []
    finally:
        started = host.descendants()
        try:
            spark = getattr(bench, "spark", None)
            if spark is not None:
                jvm = spark.sparkContext._gateway.proc
                spark.stop()
                jvm.stdin.close()  # the JVM exits when its stdin closes
                try:
                    jvm.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
        finally:
            bench.close()
            host.wait_gone(started)
            host.reap_children()

    passes = bench.passes
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    correct = all(p["correct"] for p in passes)
    wall = _median(plain, "wall_s")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        # a layer the workload never enters reads 0
        metrics = {
            m["name"]: statistics.median(p["layers"].get(m["name"], 0.0) for p in traced)
            for m in spec["per_layer"]
        }
        metrics["trace.overhead_s"] = _median(traced, "wall_s") - wall
        metrics = _with_units(metrics, spec["per_layer"])
    else:
        metrics = _with_units({
            "wall_s": wall,
            "rows_per_s": _median(plain, "rows_landed") / wall,
            "cpu_s": _median(plain, "cpu_s"),
            "setup_s": setup["setup_s"],
        }, spec["end_to_end"])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "passes": len(plain) + len(traced),
        "failed_frac": failed / attempted, "setup": setup, "env": env,
        "pg_settings": SETTINGS, "host": fingerprint.finish(), "pass_records": passes,
    }
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    notes = sorted({n for p in passes for n in p["notes"]})
    print(f"perfbench: {args.workload} seed={args.seed} passes={record['passes']} "
          f"cpus={env['SPARK_GRAFT_CPUS']} failed_frac={record['failed_frac']:.6f} "
          f"record={os.path.relpath(out, ROOT)}")
    for note in notes:
        print(f"perfbench: {note}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
