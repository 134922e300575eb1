"""In-memory spans around the program's layers, for the traced run.

Spans come from the benchmark's own code: ``Tracer.install`` replaces
public functions of ``pgloader_spark`` with wrappers for the length of
a traced pass (the callers resolve them at call time, so the program's
code is not edited). Each span sets a Spark job group, so the stages
it ran are read back from the status store after the clock stops.

Lazy layers (source read, cast projection, validation split, COPY
encode) build plans rather than run them. Their cost is measured by
materializing each plan prefix to the ``noop`` sink inside a
``probe.*`` span and differencing consecutive prefixes; probe jobs are
tracing overhead and are left out of every ``spark.*`` total.
"""

from __future__ import annotations

import importlib
import itertools
import time
from contextlib import contextmanager

PY_SCOPES = ("Pandas", "Python", "Arrow")

# (module, attribute, span name). A target that a later version of the
# program no longer has is skipped and listed in the trace output.
EAGER = [
    ("pgloader_spark.cli", "parse_load", "parsers.parse"),
    ("pgloader_spark.plans.executor", "execute", "plans.execute"),
    ("pgloader_spark.plans.executor", "execute_database", "plans.execute"),
    ("pgloader_spark.sources.sqlite_live", "introspect_sqlite", "catalog.introspect"),
    ("pgloader_spark.sources.sqlite_live", "introspect_sqlite_keys", "catalog.introspect"),
    ("pgloader_spark.sources.pg_live", "capture_and_drop_indexes", "catalog.introspect"),
    ("pgloader_spark.plans.ddl", "prepare_statements", "plans.ddl"),
    ("pgloader_spark.plans.executor", "load_with_isolation", "sinks.reject_pass"),
    ("pgloader_spark.sources.pg_live", "write_pg_copy", "pg_live.copy"),
    ("pgloader_spark.plans.orchestrate", "run_post_load", "plans.post_load"),
    ("pgloader_spark.plans.orchestrate", "run_parallel_indexes", "plans.post_load"),
]
# functions returning a DataFrame whose materialization is the layer
LAZY = [
    ("pgloader_spark.plans.executor", "read_source", "sources.read"),
    ("pgloader_spark.sources.sqlite_live", "read_sqlite_table", "sources.read"),
    ("pgloader_spark.plans.executor", "project", "casting.cast"),
    ("pgloader_spark.plans.executor", "_apply_cast_transforms", "casting.cast"),
    ("pgloader_spark.sources.copytext", "to_copy_lines", "sinks.encode"),
]


class Tracer:
    def __init__(self, spark, prefix: str):
        """``prefix`` keeps span ids (Spark job groups) unique across
        the tracers of one session."""
        self.prefix = prefix
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.ids = itertools.count()
        self.counts: dict[str, float] = {}
        self.skipped: list[str] = []
        self._saved: list[tuple] = []
        # probe time of every probed frame, keyed by object identity;
        # the frame is kept so its id cannot be reused within the pass
        self._probe_s: dict[int, tuple[float, object]] = {}

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, label: str | None = None):
        rec = {"id": f"perfbench-{self.prefix}-{next(self.ids)}", "name": name, "label": label,
               "parent": self.stack[-1]["id"] if self.stack else None,
               "start": time.perf_counter(), "read0": self._file_bytes_read()}
        self.stack.append(rec)
        self.sc.setJobGroup(rec["id"], name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["read1"] = self._file_bytes_read()
            self.stack.pop()
            self.spans.append(rec)
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["id"], self.stack[-1]["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _file_bytes_read(self) -> int:
        """Bytes Spark has read from local files so far (Hadoop's
        per-scheme counters; reads served from Spark's cache do not
        count)."""
        stats = self.sc._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
        return sum(st.getBytesRead() for st in stats if st.getScheme() == "file")

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def innermost(self) -> str | None:
        return self.stack[-1]["name"] if self.stack else None

    # -- wrappers ------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, name in EAGER:
            self._patch(mod_name, attr, self._eager(name))
        for mod_name, attr, name in LAZY:
            self._patch(mod_name, attr, self._lazy(name))
        self._patch("pgloader_spark.sources.pgwire", "PGConn.query", self._ddl)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _patch(self, mod_name: str, attr: str, make) -> None:
        owner = importlib.import_module(mod_name)
        *path, leaf = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        orig = getattr(owner, leaf, None)
        if orig is None:
            self.skipped.append(f"{mod_name}.{attr}")
            return
        self._saved.append((owner, leaf, orig))
        setattr(owner, leaf, make(orig))

    def _eager(self, name: str):
        def make(orig):
            def wrapper(*a, **kw):
                label = None
                if name == "pg_live.copy":
                    label = a[2]
                    # the encode probe inside is differenced against this
                    self._probe(a[0], "copy_input", record=False)
                with self.span(name, label):
                    out = orig(*a, **kw)
                if name == "sinks.reject_pass":
                    self.add("sinks.rejects", out.error_count or 0)
                    self._probe(out.good, "sinks.validate", base=a[0])
                return out
            return wrapper
        return make

    def _lazy(self, name: str):
        def make(orig):
            def wrapper(*a, **kw):
                out = orig(*a, **kw)
                if out is a[0]:
                    return out  # nothing to do for this input: the layer costs 0
                if name == "sinks.encode" and self.innermost() != "pg_live.copy":
                    return out  # reject-file encoding, not the COPY stream
                if name == "sources.read":
                    self._probe(out, name, label=a[2] if len(a) > 2 else None)
                else:
                    self._probe(out, name, base=a[0])
                return out
            return wrapper
        return make

    def _ddl(self, orig):
        # driver-side SQL that no other layer issued: CREATE/DROP/TRUNCATE
        def wrapper(conn, sql, *a, **kw):
            if self.innermost() not in ("plans.execute", "pass"):
                return orig(conn, sql, *a, **kw)
            with self.span("plans.ddl"):
                return orig(conn, sql, *a, **kw)
        return wrapper

    def _probe(self, df, name: str, base=None, label=None, record=True) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        with self.span(f"probe.{name}", label) as rec:
            if name == "sinks.encode":
                n_bytes = df.agg(F.sum(F.octet_length("line") + 1)).collect()[0][0]
                self.add("pg_live.copy_mb", (n_bytes or 0) / 1e6)
            else:
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop").mode("overwrite").save()
                if name == "sources.read":
                    self.add("sources.rows", obs.get["n"])
        took = time.perf_counter() - rec["start"]
        self._probe_s[id(df)] = (took, df)
        if not record:
            return
        # a difference of two timings: noise can make it negative
        prior = self._probe_s.get(id(base), (0.0, None))[0]
        self.add(f"{name}_s", took - prior)

    # -- read-out ------------------------------------------------------
    def self_totals(self) -> tuple[dict[str, float], int]:
        """Self time per span name (duration minus the part covered by
        child spans), and the file bytes read outside probe spans.
        Probe spans are overhead and not counted."""
        child_s: dict[str, float] = {}
        child_read: dict[str, int] = {}
        for s in self.spans:
            if s["parent"]:
                child_s[s["parent"]] = child_s.get(s["parent"], 0) + s["end"] - s["start"]
                child_read[s["parent"]] = (child_read.get(s["parent"], 0)
                                           + s["read1"] - s["read0"])
        self_s: dict[str, float] = {}
        read = 0
        for s in self.spans:
            if s["name"].startswith("probe."):
                continue
            own = s["end"] - s["start"] - child_s.get(s["id"], 0)
            self_s[s["name"]] = self_s.get(s["name"], 0) + own
            read += s["read1"] - s["read0"] - child_read.get(s["id"], 0)
        return self_s, read

    def stage_metrics(self) -> tuple[dict, dict]:
        """Totals over non-probe spans, and per-span rows."""
        names = {s["id"]: s["name"] for s in self.spans}
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        groups: dict[str, list[int]] = {}
        jobs: dict[str, int] = {}
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            if g.isEmpty() or g.get() not in names:
                continue
            gid = g.get()
            jobs[gid] = jobs.get(gid, 0) + 1
            sit = j.stageIds().iterator()
            while sit.hasNext():
                groups.setdefault(gid, []).append(int(sit.next()))
        stage_of = {}
        alist = jvm.java.util.ArrayList
        sit = store.stageList(alist(), False, False,
                              self.sc._gateway.new_array(jvm.double, 0), alist()).iterator()
        while sit.hasNext():
            s = sit.next()
            stage_of.setdefault(int(s.stageId()), []).append(s)
        per_span: dict[str, dict] = {}
        for gid, stage_ids in groups.items():
            row = per_span.setdefault(gid, dict.fromkeys(
                ["jobs", "stages", "tasks", "input_mb", "run_s", "cpu_s", "gc_s",
                 "shuffle_mb", "spill_mb", "python_run_s", "python_cpu_s"], 0))
            row["jobs"] = jobs[gid]
            row["span"] = names[gid]
            for sid in set(stage_ids):
                for s in stage_of.get(sid, []):
                    if s.numCompleteTasks() == 0:
                        continue  # skipped: its shuffle output was reused
                    row["stages"] += 1
                    row["tasks"] += s.numTasks()
                    row["input_mb"] += s.inputBytes() / 1e6
                    run_s = s.executorRunTime() / 1e3
                    cpu_s = s.executorCpuTime() / 1e9
                    row["run_s"] += run_s
                    row["cpu_s"] += cpu_s
                    row["gc_s"] += s.jvmGcTime() / 1e3
                    row["shuffle_mb"] += (s.shuffleReadBytes() + s.shuffleWriteBytes()) / 1e6
                    row["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
                    if self._is_python_stage(store, sid):
                        row["python_run_s"] += run_s
                        row["python_cpu_s"] += cpu_s
        totals: dict[str, float] = {}
        for row in per_span.values():
            if row["span"].startswith("probe."):
                continue
            for k, v in row.items():
                if k != "span":
                    totals[k] = totals.get(k, 0) + v
        return totals, per_span

    @staticmethod
    def _is_python_stage(store, stage_id: int) -> bool:
        def names(cluster):
            out = [cluster.name()]
            it = cluster.childClusters().iterator()
            while it.hasNext():
                out += names(it.next())
            return out

        graph = store.operationGraphForStage(stage_id)
        return any(p in n for n in names(graph.rootCluster()) for p in PY_SCOPES)
