"""Validation-first error isolation.

The reference isolates bad rows *after* the database rejects them:
parse the COPY error's CONTEXT line number and replay the batch around
it (``src/pg-copy/copy-retry-batch.lisp:47-214``), bisecting when no
line context exists (``:66-110``). On Spark, re-sending batches is the
expensive thing, so we invert the design (SURVEY §7): validate every
column *before* the write in one distributed pass, split into a good
DataFrame and a rejects DataFrame, and write rejects to
``<root>/<db>/<table>.dat`` (COPY format) + ``.log`` — the same
artifact paths as ``src/utils/reject.lisp:12-34`` /
``src/utils/state.lisp:53-66``.

Semantics match the reference's accounting: a bad row is excluded,
every good row in its batch still loads, and the per-table error count
equals the number of bad rows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class ColumnRule:
    """A validity predicate + the cast applied when valid.

    ``cast_to``: Spark type name to try-cast to (null-on-fail), or None
    to accept anything. ``not_null``: reject NULLs post-cast (models
    target NOT NULL constraints).
    """

    name: str
    cast_to: str | None = None
    not_null: bool = False

    def valid_expr(self, c: Column) -> Column:
        ok = F.lit(True)
        if self.cast_to is not None:
            # a non-null input that try-casts to null is invalid
            ok = ok & (c.isNull() | c.try_cast(self.cast_to).isNotNull())
        if self.not_null:
            cast_c = c.try_cast(self.cast_to) if self.cast_to else c
            ok = ok & cast_c.isNotNull()
        return ok


@dataclass
class ValidationResult:
    good: DataFrame
    rejects: DataFrame  # original columns + ``_errors`` array<string>
    error_count: int | None = None  # filled by write_rejects


def split_valid(df: DataFrame, rules: list[ColumnRule]) -> ValidationResult:
    """One pass: annotate each row with its failed-rule list, then
    split. Both branches share the annotated plan, so with AQE the scan
    and validation compute once per branch off the same source —
    no driver-side row handling anywhere."""
    errs = F.array_compact(
        F.array(
            *[
                F.when(
                    ~r.valid_expr(F.col(r.name)),
                    F.lit(f"{r.name}: invalid {r.cast_to or 'value'}"),
                )
                for r in rules
            ]
        )
    )
    annotated = df.withColumn("_errors", errs)
    good = annotated.filter(F.size("_errors") == 0).drop("_errors")
    # apply the casts on the good side
    casts = {r.name: r.cast_to for r in rules if r.cast_to}
    if casts:
        good = good.select(
            *[
                F.col(c).cast(casts[c]).alias(c) if c in casts else F.col(c)
                for c in good.columns
            ]
        )
    rejects = annotated.filter(F.size("_errors") > 0)
    return ValidationResult(good=good, rejects=rejects)


def write_rejects(result: ValidationResult, root_dir: str, db: str, table: str) -> int:
    """rejects -> <root>/<db>/<table>.dat (COPY text of the original
    row) and <table>.log (per-row error messages). Returns the error
    count (reject.lisp:12-34)."""
    from pgloader_spark.sources.copytext import to_copy_lines

    out_dir = os.path.join(root_dir, db)
    os.makedirs(out_dir, exist_ok=True)
    rej = result.rejects.cache()
    n = rej.count()
    result.error_count = n
    if n == 0:
        rej.unpersist()
        return 0
    data_cols = [c for c in rej.columns if c != "_errors"]
    lines = to_copy_lines(rej.select(*data_cols))
    log = rej.select(
        F.concat_ws(
            " ", F.lit(f"{table}:"), F.concat_ws("; ", F.col("_errors"))
        ).alias("line")
    )
    # coalesce(1): reject files are small by construction (errors are
    # the exception); one file matches the reference's layout.
    lines.coalesce(1).write.mode("overwrite").text(
        os.path.join(out_dir, f"{table}.dat")
    )
    log.coalesce(1).write.mode("overwrite").text(
        os.path.join(out_dir, f"{table}.log")
    )
    rej.unpersist()
    return n


def load_with_isolation(
    df: DataFrame,
    rules: list[ColumnRule],
    root_dir: str,
    db: str,
    table: str,
    on_error_stop: bool = False,
) -> ValidationResult:
    """The reference's two modes (copy-from-queue.lisp:41-69): default
    = isolate bad rows and continue; ``on error stop`` = fail fast on
    the first invalid row."""
    result = split_valid(df, rules)
    if on_error_stop:
        bad = result.rejects.limit(1).collect()
        if bad:
            raise ValueError(
                f"on error stop: first invalid row in {table}: {bad[0]['_errors']}"
            )
        result.error_count = 0
        return result
    write_rejects(result, root_dir, db, table)
    return result
