"""Output checks. Each returns a list of problems; an empty list passes.

Lake checks read the finalized range files with pyarrow, independently of
the Spark code under test; contiguity goes through the program's own
``lake_coverage`` over a plain local listing.
"""

from __future__ import annotations

import math
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

from substreams_sink_parquet_spark.sink.writer import _split_range_name, lake_coverage

import gen


class LocalListing:
    """The one ``HadoopFS`` method ``lake_coverage`` needs, over os.scandir."""

    def list_sizes(self, url: str) -> dict[str, int]:
        path = url.removeprefix("file://")
        return {e.name: e.stat().st_size for e in os.scandir(path) if e.is_file()}


def range_files(table_dir: str) -> list[str]:
    return sorted(n for n in os.listdir(table_dir) if _split_range_name(n) is not None)


def lake_bytes(lake_dir: str) -> int:
    total = 0
    for d in (lake_dir, os.path.join(lake_dir, gen.CHILD_TABLE)):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in range_files(d))
    return total


def _table_sums(table_dir: str, column: str) -> tuple[int, int]:
    rows = total = 0
    for name in range_files(table_dir):
        col = pq.read_table(os.path.join(table_dir, name), columns=[column])[column]
        rows += len(col)
        s = pc.sum(col).as_py()
        total += s or 0
    return rows, total


def check_lake(lake_dir: str, truth: gen.ChainTruth, upto_block: int | None = None) -> list[str]:
    """Every table contiguous from the anchor, covering the chain, with row
    counts and checksums equal to the generator's truth."""
    problems = []
    end = truth.first_block + truth.blocks if upto_block is None else upto_block
    for d in (lake_dir, os.path.join(lake_dir, gen.CHILD_TABLE)):
        if not os.path.isdir(d):
            problems.append(f"{d}: missing table directory")
            continue
        cov = lake_coverage(LocalListing(), d)
        if not cov["contiguous"]:
            problems.append(f"{d}: gaps {cov['gaps']} overlaps {cov['overlaps']}")
        if cov["first_block"] != truth.first_block or (cov["last_block"] or 0) < end:
            problems.append(f"{d}: covers [{cov['first_block']}, {cov['last_block']}) "
                            f"not [{truth.first_block}, {end})")
    if problems:
        return problems
    rows, bsum = _table_sums(lake_dir, "block_number")
    if (rows, bsum) != (truth.non_nil, truth.block_sum):
        problems.append(f"main table rows/block-sum {rows}/{bsum} != "
                        f"{truth.non_nil}/{truth.block_sum}")
    rows, asum = _table_sums(os.path.join(lake_dir, gen.CHILD_TABLE), "amount")
    if (rows, asum) != (truth.child_rows, truth.amount_sum):
        problems.append(f"child table rows/amount-sum {rows}/{asum} != "
                        f"{truth.child_rows}/{truth.amount_sum}")
    return problems


# -- catalog oracle ----------------------------------------------------------------

def _cell(v):
    import datetime

    import numpy as np

    if v is None:
        return "null"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def frame_digest(pdf) -> tuple[list[str], int, int]:
    """(sorted column names, row count, order-insensitive value hash);
    floats compare to ten significant digits."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(_cell(v) for v in r))
                  for r in pdf[cols].itertuples(index=False, name=None))
    return cols, len(rows), hash(tuple(rows))


def oracle_connection(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    return con


def check_against_oracle(name: str, spark_pdf, con, sql: str | None) -> list[str]:
    if sql is None:
        return [] if len(spark_pdf) else [f"{name}: no rows"]
    got = frame_digest(spark_pdf)
    want = frame_digest(con.execute(sql).fetchdf())
    if got != want:
        return [f"{name}: spark {got[:2]} != oracle {want[:2]} or values differ"]
    return []
