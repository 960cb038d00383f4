"""DiepyContext — the library API (reference entry points: core.py:53-84,
115-186, 287-297). A thin orchestrator over a SparkSession + backend:

    ctx = DiepyContext(spark, server="test", config="diepy.ini")
    ctx.import_file("data.csv")             # infer → create → load
    ctx.export_table("data", "out.csv.gz")  # scan → render → write

Error policy: fail-fast by default; ``lenient=True`` restores the
reference's log-and-continue behavior (quirk Q2).
"""

from __future__ import annotations

import glob as globmod
import logging
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from diepy_spark.core.database import make_backend
from diepy_spark.functions.inference import (
    SAMPLE_SIZE_DEFAULT,
    ColumnSpec,
    infer_from_dataframe,
)
from diepy_spark.sources.excel import read_excel_sheets, sheet_to_untyped_df, split_sheet_address
from diepy_spark.sources.files import (
    apply_schema,
    extract_zip_members,
    is_excel_path,
    read_untyped_csv,
)
from diepy_spark.sources.writers import write_csv, write_xlsx

logger = logging.getLogger("diepy_spark")


class DiepyContext:
    def __init__(
        self,
        spark: SparkSession,
        server: str,
        database: str | None = None,
        config: str | None = None,
        lenient: bool = False,
    ):
        self.spark = spark
        self.backend = make_backend(spark, server, database, config)
        self.lenient = lenient

    # ---- import ------------------------------------------------------------

    def import_path(
        self, src: str, table: str | None = None, schema: str | None = None,
        delimiter: str = ",", truncate: bool = False,
    ) -> None:
        """File / directory / glob routing (cli.py:132-144, core.py:71-79)."""
        if os.path.isfile(src) or "$" in src:
            self.import_file(src, table, schema, delimiter, truncate)
        elif os.path.isdir(src):
            for p in sorted(os.listdir(src)):
                full = os.path.join(src, p)
                if not full.endswith(".csv"):
                    continue
                logger.info("Importing: %s", full)
                self.import_file(full, None, schema, delimiter, truncate)
        else:
            for full in sorted(globmod.glob(src)):
                # the reference's glob branch imports only .csv matches
                # (cli.py:140-144), same as the directory branch
                if not full.endswith(".csv"):
                    continue
                self.import_file(full, None, schema, delimiter, truncate)

    def import_file(
        self, filepath: str, table: str | None = None, schema: str | None = None,
        delimiter: str = ",", truncate: bool = False,
        sample_size: int | None = SAMPLE_SIZE_DEFAULT, lenient_dates: bool = False,
    ) -> int | None:
        """Import one delimited file (or an xlsx workbook, one table per
        sheet) and return the number of rows appended; None when
        ``lenient`` skipped the file after logging why.

        The table is created from the inferred schema unless it exists. A
        delimited file costs these Spark jobs: the quote census, the header
        read, the inference sample, the schema-only parquet file of a new
        warehouse table, and the append. The row count is observed during
        the append, not re-counted. A zero-byte file has no header to
        infer from and raises ValueError."""
        scratch = None
        try:
            if is_excel_path(filepath):
                return self._import_excel(filepath, table, schema, truncate)
            if not table:
                table = os.path.splitext(os.path.basename(filepath))[0]
                if table.endswith((".csv", ".tab", ".tsv", ".txt")):  # x.csv.gz
                    table = os.path.splitext(table)[0]
            src = filepath
            if filepath.lower().endswith(".zip"):
                scratch = tempfile.mkdtemp(prefix="diepy-zip-")
                src = extract_zip_members(filepath, scratch)
            raw = read_untyped_csv(self.spark, src, delimiter)
            if not raw.columns:
                raise ValueError(f"{filepath}: empty file, no header row to import")
            specs = infer_from_dataframe(raw, sample_size)
            return self._store(raw, specs, table, schema, truncate, lenient_dates)
        except Exception:
            if self.lenient:
                logger.exception("Had some trouble storing %s", filepath)
                return None
            raise
        finally:
            if scratch:
                shutil.rmtree(scratch, ignore_errors=True)

    def _import_excel(
        self, filepath: str, table: str | None, schema: str | None, truncate: bool
    ) -> int | None:
        path, sheet = split_sheet_address(filepath)
        sheets = read_excel_sheets(path, sheet)
        total = 0
        for sheet_name, pdf in sheets.items():
            try:
                if len(pdf) == 0 and len(pdf.columns) == 0:
                    logger.warning("No data found.")
                    continue
                sdf, specs = sheet_to_untyped_df(self.spark, pdf)
                total += self._store(sdf, specs, table or sheet_name, schema, truncate)
            except Exception:
                if self.lenient:
                    logger.exception("Had trouble importing worksheet: %s", sheet_name)
                    continue
                raise
        return total

    def _store(
        self, raw: DataFrame, specs: list[ColumnSpec], table: str, schema: str | None,
        truncate: bool, lenient_dates: bool = False,
    ) -> int:
        """Create ``table`` from ``specs`` unless it exists, append ``raw``
        cast to them, and return the rows appended. create_table raising
        FileExistsError is the existence check, so a JDBC table is probed
        once."""
        try:
            self.backend.create_table(table, specs, schema)
        except FileExistsError:
            pass
        typed = apply_schema(raw, specs, lenient=lenient_dates)
        rows = Observation()
        self.backend.append(
            typed.observe(rows, F.count(F.lit(1)).alias("rows")), table, schema, truncate=truncate
        )
        return rows.get["rows"]

    # ---- export ------------------------------------------------------------

    def export_table(
        self, table: str, filename: str, schema: str | None = None,
        unix: bool = False, windows: bool = False, zip: bool = False,
        single_file: bool = True,
    ) -> str:
        df: DataFrame = self.backend.read_table(table, schema)
        if is_excel_path(filename):
            return write_xlsx(df, filename, sheet_name=table)
        return write_csv(df, filename, unix=unix, windows=windows, zip=zip, single_file=single_file)
