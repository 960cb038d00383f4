"""File sinks: CSV/TSV (+gzip) and filename decoration.

Reference behavior (core.py:299-336, cli.py:54-82): header row, delimiter by
output extension (.tab/.tsv ⇒ tab), line terminator unix/windows/os-default,
gzip for .gz/--zip (we implement the DOCUMENTED gzip semantics — the
reference has a positional-arg bug, quirk Q1), and --datestamp/--timestamp
filename decoration.

Scale strategy for "one output file": a 100 TB table cannot become one CSV
on a driver. Default: single_file=True coalesces to 1 task when the data is
moderate (same semantics as the reference, which always wrote one file);
single_file=False writes a directory of parts for big exports.
"""

from __future__ import annotations

import glob
import gzip
import os
import shutil
import tempfile
from datetime import datetime

from pyspark.sql import DataFrame

from diepy_spark.functions.rendering import render_for_export
from diepy_spark.sources.files import delimiter_for


def decorate_filename(path: str, datestamp: bool = False, timestamp: bool = False, now: datetime | None = None) -> str:
    """--datestamp → name-YYYY.MM.DD.ext; --timestamp → name-YYYY.MM.DD.HHMM.ext
    (cli.py:77-82)."""
    if not (datestamp or timestamp):
        return path
    now = now or datetime.now()
    base, ext = os.path.splitext(path)
    if ext == ".gz":
        base, inner = os.path.splitext(base)
        ext = inner + ext
    stamp = now.strftime("%Y.%m.%d.%H%M") if timestamp else now.strftime("%Y.%m.%d")
    return f"{base}-{stamp}{ext}"


def _line_sep(unix: bool, windows: bool) -> str:
    if unix:
        return "\n"
    if windows:
        return "\r\n"
    return os.linesep


def write_csv(
    df: DataFrame,
    path: str,
    unix: bool = False,
    windows: bool = False,
    zip: bool = False,
    single_file: bool = True,
) -> str:
    """Write a rendered CSV/TSV, gzip'd when the name says so or zip=True.

    single_file=True: Spark writes one part (coalesce(1)) into a temp dir,
    which is then moved to the exact requested filename — byte-stream
    equivalent to the reference's single output file. single_file=False:
    `path` becomes a directory of parts (the 100 TB path).
    """
    if zip and not path.endswith(".gz"):
        path += ".gz"
    compressed = path.endswith(".gz")
    rendered = render_for_export(df)
    # escape='"' doubles an embedded quote (RFC 4180), which is what
    # read_untyped_csv expects; Spark's default escape is a backslash
    options = dict(
        header=True, sep=delimiter_for(path), lineSep=_line_sep(unix, windows),
        escape='"', emptyValue="", nullValue="",
        compression="gzip" if compressed else "none",
    )

    if not single_file:
        rendered.write.options(**options).mode("overwrite").csv(path)
        return path

    tmp = tempfile.mkdtemp(prefix="diepy-export-", dir=os.path.dirname(os.path.abspath(path)) or ".")
    try:
        rendered.coalesce(1).write.options(**options).mode("overwrite").csv(tmp)
        part = glob.glob(os.path.join(tmp, "part-*"))[0]
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def write_xlsx(df: DataFrame, path: str, sheet_name: str, max_rows: int = 1_000_000) -> str:
    """Table → worksheet named after the table; replaces a same-named sheet
    in an existing workbook (core.py:338-358, quirk Q10 preserved).

    Driver-bound by design (xlsx is not a distributed format); guarded by
    max_rows so a cluster-scale table can't flatten the driver. One job
    collects at most max_rows + 1 rows; the extra row trips the guard."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"xlsx export is driver-bound; table has more than {max_rows} rows "
            "(the guard). Export to CSV/parquet instead."
        )
    rows = [list(pdf.columns)] + [
        [v if not (isinstance(v, float) and v != v) else None for v in row]
        for row in pdf.itertuples(index=False, name=None)
    ]
    try:
        import openpyxl
    except ImportError:
        # stdlib fallback: read any existing workbook, replace/append the
        # target sheet (Q10 semantics), rewrite the whole file.
        from diepy_spark.sources import xlsx_lite

        sheets = xlsx_lite.read_workbook(path) if os.path.isfile(path) else {}
        sheets.pop(sheet_name, None)  # replaced sheet moves to the end,
        sheets[sheet_name] = rows     # matching openpyxl del+create_sheet
        return xlsx_lite.write_workbook(path, sheets)

    if os.path.isfile(path):
        wb = openpyxl.load_workbook(path)
        if sheet_name in wb.sheetnames:
            del wb[sheet_name]
        ws = wb.create_sheet(title=sheet_name)
    else:
        wb = openpyxl.Workbook()
        ws = wb.active
        ws.title = sheet_name

    for row in rows:
        ws.append(row)
    wb.save(path)
    return path


def write_jsonl(df: DataFrame, path: str, single_file: bool = True) -> str:
    """JSON-Lines export with the SAME value rendering as write_csv (K7:
    bools as 1/0, Python-isoformat timestamps, NULL fields omitted per the
    JSON convention and read back as NULL) so either format round-trips
    through the inference lattice identically.

    single_file=True mirrors write_csv's exact-filename contract;
    single_file=False writes a directory of parts (the 100 TB path). Gzip
    by filename extension, as with CSV."""
    compressed = path.endswith(".gz")
    rendered = render_for_export(df)
    if not single_file:
        w = rendered.write.mode("overwrite")
        if compressed:
            w = w.option("compression", "gzip")
        w.json(path)
        return path
    tmp = tempfile.mkdtemp(
        prefix="diepy-export-", dir=os.path.dirname(os.path.abspath(path)) or "."
    )
    try:
        rendered.coalesce(1).write.mode("overwrite").option(
            "compression", "gzip" if compressed else "none"
        ).json(tmp)
        part = glob.glob(os.path.join(tmp, "part-*"))[0]
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path
