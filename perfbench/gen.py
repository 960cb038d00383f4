"""Seeded input generator for the benchmark workloads.

Every input the program sees is written here from the read-only TPC-H-ish
test tables and the run's seed. The seed drives the row subset and order,
which text cells get quotes, commas or embedded newlines, the rows of the
xlsx sheets, and the row permutation of the query tables. The same seed
always gives byte-identical files.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from diepy_spark.sources.xlsx_lite import write_workbook

QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_WORDS = (
    "carefully regular deposits sleep quickly final packages haggle blithely "
    "express accounts wake furiously pending requests boost slyly ironic "
    "theodolites nag fluffily bold pinto beans cajole"
).split()


def _comments(rng: np.random.Generator, n: int, fancy_rate: float, quote_chars: bool) -> list[str]:
    """Free-text cells of 16 words (about 125 characters, so a 25,000-row
    file passes 4 MB). With fancy_rate > 0 a seeded share of them carry a
    comma or an embedded newline, which the CSV must quote (and, for the
    newline, parse in multiLine mode), and with quote_chars also a pair of
    `"` characters."""
    words = np.array(_WORDS)
    picks = words[rng.integers(0, len(words), size=(n, 16))]
    out = [" ".join(row) for row in picks]
    if fancy_rate > 0:
        kinds = ("comma", "quote", "newline") if quote_chars else ("comma", "newline")
        drawn = rng.integers(0, len(kinds), size=n)
        for i in np.flatnonzero(rng.random(n) < fancy_rate):
            w = out[i].split(" ")
            kind = kinds[drawn[i]]
            if kind == "comma":
                out[i] = f"{w[0]}, {' '.join(w[1:])}"
            elif kind == "quote":
                out[i] = f'{w[0]} "{w[1]}" {" ".join(w[2:])}'
            else:
                out[i] = f"{' '.join(w[:2])}\n{' '.join(w[2:])}"
    return out


def _subset(rng: np.random.Generator, df: pd.DataFrame, n: int) -> pd.DataFrame:
    idx = rng.choice(len(df), size=min(n, len(df)), replace=False)
    return df.iloc[idx].reset_index(drop=True)


def _as_text_dates(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.strftime("%Y-%m-%d")
    return df


def import_files(src_dir: str, out_dir: str, seed: int, large_rows: int, small_rows: int,
                 quote_chars: bool = False) -> list[dict]:
    """The import/export inputs. Each item names its file, the table it
    becomes (None: one table per xlsx sheet), the delimiter a user passes
    (`--tab` for .tsv), the storage backend, and the frames it holds.

    - Two lineitem-derived files of `large_rows` rows for the parquet
      warehouse: a quote-free .csv (splittable scan) and a .csv with a
      quoted header and quoted text cells, a seeded share of which hold
      commas or newlines, and with `quote_chars` also `"` characters
      (single-task multiLine scan).
    - Small files of `small_rows` rows for the JDBC store: a .tsv and a
      two-sheet .xlsx.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    out = []
    lineitem = pd.read_parquet(os.path.join(src_dir, "lineitem.parquet"))
    for shape in ("plain", "quoted"):
        df = _as_text_dates(_subset(rng, lineitem, large_rows))
        df["l_comment"] = _comments(rng, len(df), 0.02 if shape == "quoted" else 0.0, quote_chars)
        path = os.path.join(out_dir, f"li_{shape}.csv")
        df.to_csv(
            path, index=False, lineterminator="\n",
            quoting=csv.QUOTE_NONNUMERIC if shape == "quoted" else csv.QUOTE_MINIMAL,
        )
        out.append({"path": path, "table": f"li_{shape}", "delimiter": ",",
                    "backend": "wh", "frames": {f"li_{shape}": df}})

    small = {t: pd.read_parquet(os.path.join(src_dir, f"{t}.parquet"))
             for t in ("orders", "customer", "supplier")}
    df = _as_text_dates(_subset(rng, small["customer"], small_rows))
    path = os.path.join(out_dir, "customer.tsv")
    df.to_csv(path, index=False, sep="\t", lineterminator="\n")
    out.append({"path": path, "table": "customer", "delimiter": "\t",
                "backend": "db", "frames": {"customer": df}})
    sheets = {
        "supplier": _as_text_dates(_subset(rng, small["supplier"], small_rows)),
        "orders": _as_text_dates(_subset(rng, small["orders"], small_rows)),
    }
    path = os.path.join(out_dir, "book.xlsx")
    write_workbook(path, {n: [list(df.columns)] + df.astype(object).values.tolist()
                          for n, df in sheets.items()})
    out.append({"path": path, "table": None, "delimiter": ",", "backend": "db", "frames": sheets})
    return out


def permuted_tables(src_dir: str, out_dir: str, seed: int) -> None:
    """Row-permuted copy of every query table, one row group per table
    (the layout of the source data)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    for t in QUERY_TABLES:
        tbl = pq.read_table(os.path.join(src_dir, f"{t}.parquet"))
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        pq.write_table(tbl, os.path.join(out_dir, f"{t}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
