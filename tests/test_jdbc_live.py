"""LIVE JDBC roundtrip — the storage surface the contract tests
(test_jdbc_contract.py) pin by recording becomes a real database here:
K1 (CREATE TABLE from inferred DDL), K2 (batched INSERT), K3
(truncate-then-load), S8 (full-table scan), T9 (existence probe) against
a file-backed DuckDB over its JDBC driver (reference storage layer:
core.py:112-151,205-213).

Activates only when session.find_jdbc_jars() discovers a DuckDB driver
jar in a local artifact cache (the Spark distro ships none); skipped
with a reason otherwise. The backend tests write through one partition
(`num_partitions=1`) — the same single-connection shape as the
reference's executemany loop; the import tests keep the default, one
connection per partition.
"""

import os

import pytest

from diepy_spark.core.database import JdbcBackend
from diepy_spark.functions.inference import ColumnSpec
from diepy_spark.session import find_jdbc_jars

_DUCK_JARS = [j for j in find_jdbc_jars() if "duckdb" in os.path.basename(j).lower()]

pytestmark = pytest.mark.skipif(
    not _DUCK_JARS,
    reason="no DuckDB JDBC driver jar discoverable (session.find_jdbc_jars)",
)


def _specs():
    name = ColumnSpec("name")
    for v in ("a", "bb"):
        name.observe(v)
    n = ColumnSpec("n")
    for v in ("1", "40000"):
        n.observe(v)
    d = ColumnSpec("d")
    d.observe("2024-01-02")
    return [name, n, d]


@pytest.fixture()
def backend(spark, tmp_path):
    return JdbcBackend(spark, f"jdbc:duckdb:{tmp_path}/live.db")


def test_live_create_insert_read_truncate(spark, backend):
    import datetime

    assert not backend.table_exists("people")  # T9 before create
    backend.create_table("people", _specs())   # K1 (inferred DDL types)
    assert backend.table_exists("people")      # T9 after create

    rows = [
        ("a", 1, datetime.date(2024, 1, 2)),
        ("bb", 40000, datetime.date(2024, 3, 4)),
    ]
    df = spark.createDataFrame(rows, "name string, n int, d date")
    backend.append(df, "people", num_partitions=1)  # K2 (batchsize=1000)
    got = sorted(
        (r["name"], r["n"], r["d"]) for r in backend.read_table("people").collect()
    )  # S8
    assert got == sorted(rows)

    # append again -> rows double
    backend.append(df, "people", num_partitions=1)
    assert backend.read_table("people").count() == 4

    # K3: truncate-then-load replaces contents, keeping the table
    repl = spark.createDataFrame(
        [("zz", 7, datetime.date(2025, 5, 6))], "name string, n int, d date"
    )
    backend.append(repl, "people", truncate=True, num_partitions=1)
    got = [(r["name"], r["n"], r["d"]) for r in backend.read_table("people").collect()]
    assert got == [("zz", 7, datetime.date(2025, 5, 6))]


def test_live_create_errors_on_existing(spark, backend):
    backend.create_table("dup_t", _specs())
    with pytest.raises(FileExistsError):
        backend.create_table("dup_t", _specs())


def test_live_partitioned_read_matches_single(spark, backend):
    """S8 at scale (VERDICT r5 #2): read_table(num_partitions=4) must
    stripe the scan across >1 JDBC partition — the key auto-picked from
    the reflected schema — and return exactly the single-connection
    rows."""
    df = spark.range(0, 500).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id % 7 AS INT) AS v"
    )
    backend._execute_update("CREATE TABLE wide_t (k INTEGER, v INTEGER)")
    backend.append(df, "wide_t", num_partitions=1)

    serial = backend.read_table("wide_t")
    striped = backend.read_table("wide_t", num_partitions=4)
    assert striped.rdd.getNumPartitions() == 4  # the plan really stripes
    assert serial.rdd.getNumPartitions() == 1
    assert sorted((r["k"], r["v"]) for r in striped.collect()) == sorted(
        (r["k"], r["v"]) for r in serial.collect()
    )

    # Degenerate bounds (constant key) fall back to the serial shape.
    one = spark.createDataFrame([(5, 1), (5, 2)], "k int, v int")
    backend._execute_update("CREATE TABLE const_t (k INTEGER, v INTEGER)")
    backend.append(one, "const_t", num_partitions=1)
    fb = backend.read_table("const_t", num_partitions=4)
    assert fb.rdd.getNumPartitions() == 1
    assert fb.count() == 2

    # Explicit partition_column is honoured too.
    exp = backend.read_table("wide_t", partition_column="v", num_partitions=3)
    assert exp.rdd.getNumPartitions() == 3
    assert exp.count() == 500


@pytest.fixture()
def jdbc_ctx(spark, tmp_path):
    from diepy_spark.context import DiepyContext

    ini = tmp_path / "diepy.ini"
    ini.write_text(f"[servers]\nduck = jdbc:duckdb:{tmp_path}/ctx.db\n")
    return DiepyContext(spark, "duck", config=str(ini))


def test_live_import_returns_observed_row_count(jdbc_ctx, tmp_path):
    """import_file's count is observed during the JDBC append (no second
    scan): it must equal the rows the database received, on create,
    append and truncate-load, for csv and for each xlsx sheet."""
    from diepy_spark.sources import xlsx_lite

    src = tmp_path / "t.csv"
    src.write_text("a,b\n" + "".join(f"{i},v{i}\n" for i in range(1500)))
    assert jdbc_ctx.import_file(str(src)) == 1500
    assert jdbc_ctx.import_file(str(src)) == 1500
    assert jdbc_ctx.backend.read_table("t").count() == 3000
    assert jdbc_ctx.import_file(str(src), truncate=True) == 1500
    assert jdbc_ctx.backend.read_table("t").count() == 1500

    book = tmp_path / "book.xlsx"
    xlsx_lite.write_workbook(str(book), {
        "one": [["n"]] + [[i] for i in range(7)],
        "two": [["s"]] + [[f"x{i}"] for i in range(5)],
    })
    assert jdbc_ctx.import_file(str(book)) == 12
    assert jdbc_ctx.backend.read_table("one").count() == 7


def test_live_empty_csv_rejected(spark, jdbc_ctx, tmp_path):
    from diepy_spark.context import DiepyContext

    empty = tmp_path / "empty.csv"
    empty.write_text("")
    with pytest.raises(ValueError, match="empty.csv"):
        jdbc_ctx.import_file(str(empty))
    assert not jdbc_ctx.backend.table_exists("empty")
    lenient = DiepyContext(spark, "duck", config=str(tmp_path / "diepy.ini"), lenient=True)
    assert lenient.import_file(str(empty)) is None

    header = tmp_path / "header.csv"
    header.write_text("a,b\n")
    assert jdbc_ctx.import_file(str(header)) == 0
    assert jdbc_ctx.backend.read_table("header").count() == 0
