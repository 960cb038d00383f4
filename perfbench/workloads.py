"""The benchmark workloads and their correctness checks.

A workload is a list of items. The loop in run.py runs each item cold
(repetition 0) and then `min_warm` times warm. `run_item` appends each
operation to the caller's list as soon as its timed call returns; `check`
runs after the measured window and marks each operation correct or not.
"""

from __future__ import annotations

import os
import time
import zipfile
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen


@dataclass
class Op:
    item: str
    kind: str  # import | export | query
    rep: int
    seconds: float
    rows: int
    cpu: float = 0.0
    target: str = ""
    ok: bool | None = None
    error: str = ""
    extra: dict = field(default_factory=dict)


def timed(run, ops: list, op: Op, fn):
    """Run fn(), put its wall and CPU seconds into `op` and append `op` to
    `ops`. An exception marks `op` failed and is raised again, so the item
    stops but every call timed before it is kept."""
    w0, c0 = time.perf_counter(), run.cpu()
    try:
        return fn()
    except Exception as e:
        op.ok, op.error = False, f"{type(e).__name__}: {e}"
        raise
    finally:
        op.seconds, op.cpu = time.perf_counter() - w0, run.cpu() - c0
        ops.append(op)


# ---- canonical frames for the round-trip checks ----------------------------

def _canon_series(s: pd.Series, float32: bool, trunc: bool) -> pd.Series:
    obj = s.astype(object)
    empty = (obj.isna() | (obj == "")).to_numpy()
    num = pd.to_numeric(obj.where(~empty), errors="coerce")
    if not empty.all() and (num.notna().to_numpy() | empty).all():
        vals = np.trunc(num) if trunc else num
        vals = vals.astype("float32") if float32 else vals.round(6)
        return pd.Series(["" if e else str(v) for v, e in zip(vals.to_numpy(), empty)],
                         index=s.index)
    out = obj.astype(str)
    out[empty] = ""
    return out


def fingerprint(df: pd.DataFrame, float32: bool = False, trunc: frozenset = frozenset()) -> tuple:
    """`tools/check_oracle.frame_fingerprint` of a canonical all-string copy
    of `df`: numbers compare as floats (as 4-byte floats where the store
    keeps FLOAT columns), dates in ISO form, empty and NULL alike. Columns
    compare by position; the columns in `trunc` compare truncated toward
    zero."""
    from tools.check_oracle import frame_fingerprint

    return frame_fingerprint(pd.DataFrame(
        {f"c{i:03d}": _canon_series(df.iloc[:, i], float32, i in trunc).to_numpy()
         for i in range(df.shape[1])}, index=range(len(df))))


def read_xlsx(path: str) -> dict[str, pd.DataFrame]:
    """Sheets of an xlsx as frames (first row is the header): inline and
    shared strings, numbers and booleans. Kept apart from the program's
    `xlsx_lite.read_workbook` so that a fault the program's writer and
    reader share still fails the export check."""
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    rel_ns = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
    out = {}
    with zipfile.ZipFile(path) as zf:
        shared = []
        if "xl/sharedStrings.xml" in zf.namelist():
            for si in ET.fromstring(zf.read("xl/sharedStrings.xml")).findall("m:si", ns):
                shared.append("".join(t.text or "" for t in si.iter(f"{{{ns['m']}}}t")))
        rels = {r.get("Id"): r.get("Target") for r in
                ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))}
        for sh in ET.fromstring(zf.read("xl/workbook.xml")).find("m:sheets", ns):
            target = rels[sh.get(rel_ns)].lstrip("/")
            target = target if target.startswith("xl/") else f"xl/{target}"
            rows = []
            for row in ET.fromstring(zf.read(target)).iter(f"{{{ns['m']}}}row"):
                vals = []
                for c in row.findall("m:c", ns):
                    col = "".join(ch for ch in c.get("r") if ch.isalpha())
                    idx = 0
                    for ch in col:
                        idx = idx * 26 + ord(ch) - 64
                    while len(vals) < idx - 1:
                        vals.append(None)
                    t = c.get("t")
                    if t == "inlineStr":
                        v = "".join(x.text or "" for x in c.iter(f"{{{ns['m']}}}t"))
                    else:
                        raw = c.findtext("m:v", default=None, namespaces=ns)
                        if raw is None:
                            v = None
                        elif t == "s":
                            v = shared[int(raw)]
                        elif t == "str":
                            v = raw
                        else:
                            v = float(raw)
                    vals.append(v)
                rows.append(vals)
            width = max((len(r) for r in rows), default=0)
            rows = [r + [None] * (width - len(r)) for r in rows]
            out[sh.get("name")] = pd.DataFrame(rows[1:], columns=rows[0] if rows else [])
    return out


# ---- import/export workload ----------------------------------------------------

class ImportExport:
    """import_export: each generated file is imported into a fresh store per
    repetition (warehouse server `wh{k}` or DuckDB server `db{k}` of the
    run's diepy.ini, so every import creates its tables), then each table it
    made is exported: warehouse tables to .csv.gz, JDBC tables to .csv and
    .xlsx."""

    large_rows = 25_000
    small_rows = 1_000
    min_warm = 1
    quote_chars = False

    def __init__(self, run):
        self.run = run
        self.inputs: list[dict] = []
        self._table_fp: dict[tuple[str, str], tuple] = {}
        self._input_fp: dict[tuple[str, frozenset], tuple] = {}

    def prepare(self) -> None:
        self.inputs = gen.import_files(self.run.src_tables, os.path.join(self.run.dir, "in"),
                                       self.run.seed, self.large_rows, self.small_rows,
                                       self.quote_chars)
        stores = os.path.join(self.run.dir, "stores")
        with open(self.run.config, "w") as f:
            f.write("[servers]\n")
            for k in range(64):
                f.write(f"wh{k} = {stores}/wh{k}\n")
                f.write(f"db{k} = jdbc:duckdb:{stores}/db{k}.duckdb\n")

    def items(self) -> list[dict]:
        return self.inputs

    @staticmethod
    def item_name(item: dict) -> str:
        return os.path.basename(item["path"])

    def run_item(self, item: dict, rep: int, ops: list[Op]) -> None:
        from diepy_spark.context import DiepyContext

        server = f"{item['backend']}{rep}"
        ctx = DiepyContext(self.run.spark, server, config=self.run.config)
        name = self.item_name(item)
        rows = sum(len(f) for f in item["frames"].values())
        self.run.current_rows = rows
        timed(self.run, ops, Op(name, "import", rep, 0.0, rows, target=server,
                                extra={"bytes": os.path.getsize(item["path"])}),
              lambda: ctx.import_file(item["path"], table=item["table"], delimiter=item["delimiter"]))
        exts = [".csv.gz"] if item["backend"] == "wh" else [".csv", ".xlsx"]
        for table, frame in item["frames"].items():
            for ext in exts:
                out = os.path.join(self.run.dir, "out", f"{table}.r{rep}{ext}")
                timed(self.run, ops, Op(name, "export", rep, 0.0, len(frame), target=out,
                                        extra={"table": table, "server": server}),
                      lambda: ctx.export_table(table, out))

    def _table(self, server: str, table: str) -> pd.DataFrame:
        from diepy_spark.context import DiepyContext

        ctx = DiepyContext(self.run.spark, server, config=self.run.config)
        return ctx.backend.read_table(table).toPandas()

    def _check_import(self, op: Op, item: dict) -> None:
        jdbc = item["backend"] == "db"
        for table, frame in item["frames"].items():
            got = self._table(op.target, table)
            self._table_fp[(op.target, table)] = fingerprint(got, jdbc)
            if list(got.columns) != list(frame.columns) or len(got) != len(frame):
                raise AssertionError(f"{table}: {len(got)} rows {list(got.columns)}, "
                                     f"input has {len(frame)} rows {list(frame.columns)}")
            # xlsx cells arrive as numbers; a column the lattice types int
            # truncates toward zero, as the reference's insert does
            trunc = frozenset(
                i for i, t in enumerate(got.dtypes) if item["path"].endswith(".xlsx")
                and pd.api.types.is_integer_dtype(t)
            )
            key = (table, trunc)
            if key not in self._input_fp:
                self._input_fp[key] = fingerprint(frame, jdbc, trunc)
            if self._table_fp[(op.target, table)] != self._input_fp[key]:
                raise AssertionError(f"{table}: stored rows differ from the input")

    def _check_export(self, op: Op, item: dict) -> None:
        table, server = op.extra["table"], op.extra["server"]
        if (server, table) not in self._table_fp:
            self._table_fp[(server, table)] = fingerprint(self._table(server, table),
                                                          item["backend"] == "db")
        if op.target.endswith(".xlsx"):
            got = read_xlsx(op.target)[table]
        else:
            sep = "\t" if ".tsv" in op.target else ","
            got = pd.read_csv(op.target, sep=sep, dtype=str, keep_default_na=False)
        if list(got.columns) != list(item["frames"][table].columns):
            raise AssertionError(f"{os.path.basename(op.target)}: columns {list(got.columns)}")
        if fingerprint(got, item["backend"] == "db") != self._table_fp[(server, table)]:
            raise AssertionError(f"{os.path.basename(op.target)}: re-read rows differ from the table")

    def check(self, ops: list[Op]) -> None:
        by_name = {self.item_name(i): i for i in self.inputs}
        for op in ops:
            if op.ok is False:
                continue
            try:
                if op.kind == "import":
                    self._check_import(op, by_name[op.item])
                else:
                    self._check_export(op, by_name[op.item])
                op.ok = True
            except Exception as e:  # noqa: BLE001 - every failure is counted and reported
                op.ok, op.error = False, f"{type(e).__name__}: {e}"

    def stored_bytes(self) -> int:
        total = 0
        for d, _, files in os.walk(os.path.join(self.run.dir, "stores")):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total


class ImportExportQuoteChars(ImportExport):
    """import_export with `"` characters in some quoted text cells of
    `li_quoted.csv`. It reproduces a program defect and is not a benchmark
    workload: `sources.writers.write_csv` escapes `"` with a backslash
    instead of doubling it, so each `li_quoted.csv` export re-reads wrong
    and the run reports `correct: false`."""

    quote_chars = True


# ---- query mix -----------------------------------------------------------------

class QueryMix:
    """query_mix: declared queries on a seeded row-permuted copy of the
    test tables; each query gets a fresh session, runs cold, then warm."""

    # five warm runs per query, whose median the warm metrics take: over
    # ten seeds warm_cpu_s spread 17% with three, 13% with five and 12%
    # with ten, which cost 10 s more per run
    min_warm = 5
    queries = (
        "r3_hash_aggregate",
        "r28_percentiles",
        "x2_minhash_lsh_pairs",
    )

    def __init__(self, run):
        self.run = run
        self.results: dict[tuple[str, int], pd.DataFrame] = {}

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.run.dir, "sf")
        gen.permuted_tables(self.run.src_queries, self.sf_dir, self.run.seed)
        import __spark_entry__

        self.fns = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def items(self) -> list[str]:
        return list(self.queries)

    @staticmethod
    def item_name(name: str) -> str:
        return name

    def run_item(self, name: str, rep: int, ops: list[Op]) -> None:
        if rep == 0:
            self.run.new_session()
        op = Op(name, "query", rep, 0.0, 0)
        pdf = timed(self.run, ops, op, lambda: self._query(name, rep))
        op.rows = len(pdf)
        self.results[(name, rep)] = pdf

    def _query(self, name: str, rep: int) -> pd.DataFrame:
        tr = self.run.tracer
        if not tr:
            return self.fns[name](self.run.spark, self.sf_dir).toPandas()
        phase = "cold" if rep == 0 else "warm"
        with tr.span(f"plans.build_{phase}"):
            df = self.fns[name](self.run.spark, self.sf_dir)
        with tr.span(f"plans.exec_{phase}"):
            pdf = df.toPandas()
        phases = df._jdf.queryExecution().tracker().phases()
        for p in ("analysis", "optimization", "planning"):
            if phases.contains(p):
                tr.counts[f"plans.catalyst_{p}_ms"] += phases.apply(p).durationMs()
        return pdf

    def check(self, ops: list[Op]) -> None:
        import duckdb
        from tools.check_oracle import frame_fingerprint

        con = duckdb.connect()
        try:
            for t in gen.QUERY_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            want = {name: frame_fingerprint(con.execute(self.oracles[name]).fetchdf())
                    for name in self.queries}
        finally:
            con.close()
        for op in ops:
            if op.ok is False:
                continue
            got = frame_fingerprint(self.results[(op.item, op.rep)])
            op.ok = got == want[op.item]
            if not op.ok:
                op.error = f"{op.item}: {got} != oracle {want[op.item]}"


WORKLOADS = {
    "import_export": ImportExport,
    "import_export_quote_chars": ImportExportQuoteChars,
    "query_mix": QueryMix,
}
