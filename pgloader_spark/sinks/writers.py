"""Writer paths: PostgreSQL COPY (fast path), JDBC, and file sinks.

The reference writes through the COPY wire protocol in explicit
per-batch transactions (``src/pg-copy/copy-rows-in-batch.lisp:31-117``,
``copy-db-write.lisp:24-35``), batching 25k rows / 20 MB
(``src/params.lisp:133-136``). Spark equivalents:

- ``write_jdbc``: the baseline ``df.write.jdbc`` — one executor task
  per partition, ``batchsize`` plays the 25k-row role.
- ``write_copy``: the COPY entry point — a psycopg/psycopg2 COPY per
  partition when a driver is installed, else it delegates to the
  Arrow-batched ``sources.pg_live.write_pg_copy`` (the measured fast
  path on the stdlib wire client; see its docstring and PERF.md).
- ``write_copy_files``: COPY-format text files (for air-gapped bulk
  load via ``psql \\copy``), fully distributed.

psycopg (or psycopg2) is not in this container: the driver path is
import-gated; the partition callback is factored so its logic is
testable without a server.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

DEFAULT_BATCH_ROWS = 25_000  # *copy-batch-rows*, src/params.lisp:133


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_rows: int = DEFAULT_BATCH_ROWS,
    num_partitions: int | None = None,
    **options: str,
) -> None:
    """Baseline JDBC writer. ``numPartitions`` caps concurrent
    connections (the reference's `workers` knob)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    writer = writer.option("batchsize", str(batch_rows))
    if num_partitions:
        writer = writer.option("numPartitions", str(num_partitions))
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def _copy_partition(rows: Iterator, dsn: str, table: str, columns: list[str]) -> None:
    """Executor-side: stream one partition through COPY.  Driver
    preference: psycopg (binary pipeline) > psycopg2 > the stdlib wire
    client (``sources/pgwire.py`` — always available).  All imports are
    deferred so the module loads with none of them installed."""
    quoted = ", ".join('"' + c + '"' for c in columns)
    copy_stmt = f'COPY {table} ({quoted}) FROM STDIN'
    try:
        import psycopg  # noqa: PLC0415

        conn = psycopg.connect(dsn)
        with conn, conn.cursor() as cur, cur.copy(copy_stmt) as copy:
            for row in rows:
                copy.write_row(tuple(row))
        return
    except ImportError:
        pass

    from pgloader_spark.sinks.copy_encode import encode_rows_to_copy  # noqa: PLC0415

    try:
        import psycopg2  # noqa: PLC0415
    except ImportError:
        from pgloader_spark.sources.pgwire import PGConn  # noqa: PLC0415

        buf = encode_rows_to_copy(rows).getvalue().encode("utf-8")
        if buf:
            with PGConn(dsn) as conn:
                conn.copy_in(copy_stmt, [buf])
        return

    conn = psycopg2.connect(dsn)
    try:
        cur = conn.cursor()
        buf = encode_rows_to_copy(rows)
        cur.copy_expert(copy_stmt, buf)
        conn.commit()
    finally:
        conn.close()


def write_copy(df: DataFrame, dsn: str, table: str) -> None:
    """COPY into PostgreSQL, one stream per partition.

    Routing: with a real driver installed (psycopg's binary pipeline,
    or psycopg2's copy_expert) each partition streams through it; with
    neither — this container, and any stock Spark image — the write
    delegates to ``sources.pg_live.write_pg_copy``, whose JVM-side
    text encode + Arrow batching runs ~40x faster than iterating
    Python rows over the same stdlib wire client (measured 18k vs
    780k rows/s per stream, PERF.md).  One public COPY entry point,
    always the fast path for the environment.
    """
    try:
        import psycopg  # noqa: F401, PLC0415
    except ImportError:
        try:
            import psycopg2  # noqa: F401, PLC0415
        except ImportError:
            from pgloader_spark.sources.pg_live import write_pg_copy  # noqa: PLC0415

            write_pg_copy(df, dsn, table)
            return
    columns = list(df.columns)
    df.foreachPartition(lambda it: _copy_partition(it, dsn, table, columns))


def write_copy_files(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """COPY-format text files: `psql \\copy table from 'part-*'` loads
    them; also the reject-file format (reject.lisp)."""
    from pgloader_spark.sources.copytext import to_copy_lines

    lines = to_copy_lines(df)
    if num_files:
        lines = lines.repartition(num_files)
    lines.write.mode("overwrite").text(path)


def export_shuffled(
    df: DataFrame,
    path: str,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """Epoch-reproducible shuffled corpus export: one `shard=K/`
    directory per shard, rows inside each file in the deterministic
    shuffle order (`pos` ascending; the column is kept so loaders can
    verify).  Same (df, seed) -> byte-identical shard contents on any
    cluster layout; bump the seed per epoch for a fresh permutation.

    Plan shape (operators/sampling.py:shuffle_shard_plan): whole
    shards co-locate via ONE repartition on the shard column placed
    BEFORE the position window (which reuses that clustering — the
    corpus shuffles once, not twice; r7 review), rows sort within
    tasks, and partitionBy splits each task's rows into its shard
    directory — per-shard file order IS pos order, with no
    corpus-wide sort."""
    from pgloader_spark.operators.sampling import shuffle_shard_plan

    plan = shuffle_shard_plan(
        df, n_shards, seed=seed, id_col=id_col, shard_partitions=n_shards
    )
    w = (
        plan.sortWithinPartitions("shard", "pos")
        .write.mode(mode)
        .partitionBy("shard")
    )
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    n_shards: int | None = None,
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """JSONL corpus export (not in the reference): the interchange
    format training pipelines consume.  ``n_shards`` repartitions to a
    fixed shard count (downstream loaders want even, bounded files);
    gzip per shard by default — JSONL compresses ~5-10x and every
    consumer streams .jsonl.gz natively."""
    out = df.repartition(n_shards) if n_shards else df
    w = out.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)
