"""Validation-report sink (reference operator S3).

The reference renders one section per IC — header, "Pass." or itemized
violations — through a log4j appender into ``validation_result_<ts>.md``
(nonsparql/NospaValidator.java:445-490, resources/log4j.xml:24-33). Here the
full violation tables land in parquet for programmatic P/R scoring — at
100 TB the parquet tables are the contract, the markdown is a preview.

An IC result whose optimized plan is a ``LocalRelation`` (the schema-only
ICs and every IC skipped for absent vocabulary) is already held by the
driver: its rows are collected without a Spark job and committed as one
parquet file by pyarrow. Every other IC plan runs exactly once, as its
Spark parquet write. The per-IC row count comes from the footers of the
files just committed, and the markdown sample is read back from them in
this process: a violations table is small next to the cube, and reading a
few KB of parquet costs no Spark job.
"""

from __future__ import annotations

import datetime
import glob
import heapq
import itertools
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from .session import arrow_table, is_local

IC_TITLES = {
    "ic1": "Integrity Constraint 1: Unique DataSet",
    "ic2": "Integrity Constraint 2: Unique DSD",
    "ic3": "Integrity Constraint 3: DSD Includes Measure",
    "ic4": "Integrity Constraint 4: Dimensions Have Range",
    "ic5": "Integrity Constraint 5: Concept Dimensions Have Code Lists",
    "ic6": "Integrity Constraint 6: Only Attributes May Be Optional",
    "ic7": "Integrity Constraint 7: Slice Keys Must Be Declared",
    "ic8": "Integrity Constraint 8: Slice Keys Consistent With DSD",
    "ic9": "Integrity Constraint 9: Unique Slice Structure",
    "ic10": "Integrity Constraint 10: Slice Dimensions Complete",
    "ic11": "Integrity Constraint 11: All Dimensions Required",
    "ic12": "Integrity Constraint 12: No Duplicate Observations",
    "ic13": "Integrity Constraint 13: Required Attributes",
    "ic14": "Integrity Constraint 14: All Measures Present",
    "ic15": "Integrity Constraint 15: Measure Dimension Consistent",
    "ic16": "Integrity Constraint 16: Single Measure On Measure Dimension Observation",
    "ic17": "Integrity Constraint 17: All Measures Present In Measures Dimension Cube",
    "ic18": "Integrity Constraint 18: Consistent Dataset Links",
    "ic19": "Integrity Constraint 19: Codes From Code List",
    "ic20": "Integrity Constraint 20: Codes From Hierarchy",
    "ic21": "Integrity Constraint 21: Codes From Hierarchy (Inverse)",
}


def _row_key(row: tuple) -> tuple:
    """Spark's ascending sort order, nulls first, over the whole row: the
    first column decides and the rest break ties, so the sample does not
    depend on the part-file layout. Strings compare by code point, which
    is UTF-8 byte order; array columns (lists of strings) element-wise."""
    return tuple((v is not None, v) for v in row)


def _read_committed(path: str, k: int) -> tuple[int, list[tuple]]:
    """(row count, the ``k`` first rows in ``_row_key`` order) of a parquet
    table committed at ``path`` on the local filesystem.

    The count comes from the footers. The rows are a streaming top-k over
    record batches, so memory holds ``k`` rows plus one batch, never
    the whole table. A directory without ``_SUCCESS`` (for example a path
    that Spark resolved against a remote default filesystem) raises rather
    than reading as an empty table."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise FileNotFoundError(f"no committed parquet table at {path!r} on the local filesystem")
    n = 0
    top: list[tuple] = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        with pq.ParquetFile(f) as pf:
            n += pf.metadata.num_rows
            for batch in pf.iter_batches():
                rows = zip(*(col.to_pylist() for col in batch.columns))
                top = heapq.nsmallest(k, itertools.chain(top, rows), key=_row_key)
    return n, top


def _commit(df: DataFrame, path: str) -> None:
    """Overwrite ``path`` with ``df`` as a parquet table and mark it
    committed with ``_SUCCESS``. A local relation is collected on the
    driver (a ``LocalTableScan`` runs no job) and written as one file by
    pyarrow; any other plan runs as one Spark write."""
    if not is_local(df):
        df.write.mode("overwrite").parquet(path)
        return
    table = arrow_table(df.collect(), df.schema)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    # store_schema=False: no serialized Arrow schema in the footer; the
    # parquet schema alone reads back to the same Spark types
    pq.write_table(table, os.path.join(path, "part-00000.parquet"), store_schema=False)
    open(os.path.join(path, "_SUCCESS"), "w").close()


def write_validation_report(
    violations: dict[str, DataFrame],
    parquet_dir: str,
    md_path: str | None = None,
    sample_rows: int = 50,
) -> tuple[str, dict[str, int]]:
    """Write each IC's violations to ``<parquet_dir>/<ic>`` and render the
    markdown report from the committed tables.

    Returns ``(markdown text, {ic: violation count})``. ``parquet_dir`` must
    be on the local filesystem. Each section samples the first
    ``sample_rows`` rows ordered by the first column, nulls first (ties
    broken on the full row), so reports are deterministic (the reference
    emits hash order; SURVEY.md §2.6 documents the deliberate improvement).
    """
    ts = datetime.datetime.now().strftime("%Y%m%d%H%M%S")
    lines = [f"# Validation result ({ts})", ""]
    counts: dict[str, int] = {}
    for name, df in violations.items():
        out = os.path.join(parquet_dir, name)
        _commit(df, out)
        n, sample = _read_committed(out, sample_rows)
        counts[name] = n
        title = IC_TITLES.get(name, name)
        lines += [f"## {title}", ""]
        if n == 0:
            lines += ["Pass.", ""]
            continue
        header = "| " + " | ".join(df.columns) + " |"
        sep = "|" + "---|" * len(df.columns)
        lines += [header, sep]
        for row in sample:
            lines.append("| " + " | ".join(str(v) for v in row) + " |")
        if n > sample_rows:
            lines.append(f"| ... truncated at {sample_rows} rows ... |")
        lines.append("")
    text = "\n".join(lines)
    if md_path is not None:
        if os.path.isdir(md_path):
            md_path = os.path.join(md_path, f"validation_result_{ts}.md")
        with open(md_path, "w", encoding="utf-8") as fh:
            fh.write(text)
    return text, counts
