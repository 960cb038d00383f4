"""Contract tests for JdbcBackend (core/database.py): no JDBC driver jars
exist in this environment, so the *emitted* writer/reader plumbing is pinned
with a recording fake — every option the reference's semantics imply
(createTableColumnTypes DDL string, batchsize=1000 matching the reference's
executemany batch at core.py:245, truncate-mode overwrite) must appear
exactly. Reference storage layer: core.py:112-151,205-213."""

import pytest

from diepy_spark.core.database import JdbcBackend
from diepy_spark.functions.inference import (
    ColumnSpec,
    to_create_table_column_types,
)


class RecordingWriter:
    def __init__(self, log):
        self.log = log
        self.fmt = None
        self.opts = {}
        self.saved_mode = None

    def format(self, f):
        self.fmt = f
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self

    def mode(self, m):
        self.saved_mode = m
        return self

    def save(self):
        self.log.append(self)


class FakeDF:
    def __init__(self, log):
        self._log = log

    @property
    def write(self):
        return RecordingWriter(self._log)


class FakeSpark:
    """Records createDataFrame schemas and hands back recording frames."""

    def __init__(self, log):
        self._log = log
        self.created_schemas = []

    def createDataFrame(self, data, schema):
        assert data == []
        self.created_schemas.append(schema)
        return FakeDF(self._log)


def _specs():
    s1 = ColumnSpec("name")
    for v in ("a", "bb"):
        s1.observe(v)
    s2 = ColumnSpec("n")
    for v in ("1", "40000"):
        s2.observe(v)
    s3 = ColumnSpec("t")
    s3.observe("12:01:02")
    return [s1, s2, s3]


@pytest.fixture()
def backend():
    log = []
    b = JdbcBackend(FakeSpark(log), "jdbc:postgresql://db/x")
    return b, log


def test_create_table_emits_ddl_types(backend, monkeypatch):
    # DDL executes driver-side (one connection, one statement — see
    # JdbcBackend._execute_update for why Spark's sink can't create on
    # SQLState-less drivers); the full reference DDL surface rides in the
    # emitted CREATE TABLE: varchar bucket, INT (40000 > smallint), TIME
    b, log = backend
    specs = _specs()
    ddl: list[str] = []
    monkeypatch.setattr(b, "_execute_update", ddl.append)
    monkeypatch.setattr(b, "table_exists", lambda *a, **k: False)
    b.create_table("people", specs, schema="s")
    assert ddl == ["CREATE TABLE s.people (name VARCHAR(50), n INT, t TIME)"]
    assert to_create_table_column_types(specs) == "name VARCHAR(50), n INT, t TIME"


def test_create_table_refuses_existing(backend, monkeypatch):
    b, log = backend
    monkeypatch.setattr(b, "table_exists", lambda *a, **k: True)
    with pytest.raises(FileExistsError):
        b.create_table("people", _specs())


def test_append_batches_at_1000(backend):
    b, log = backend
    b.append(FakeDF(log), "people")
    (w,) = log
    assert w.fmt == "jdbc"
    assert w.opts["dbtable"] == "people"
    assert w.opts["batchsize"] == 1000  # reference executemany batch (core.py:245)
    assert w.saved_mode == "append"
    assert "truncate" not in w.opts


@pytest.mark.parametrize("url", ["jdbc:duckdb:x.duckdb", "jdbc:postgresql://db/x"])
def test_append_keeps_partitions_by_default(url):
    """No cap unless the caller asks: one connection per partition, a
    file-backed DuckDB included (it takes parallel appends)."""
    log = []
    JdbcBackend(FakeSpark(log), url).append(FakeDF(log), "people")
    (w,) = log
    assert "numPartitions" not in w.opts


def test_explicit_num_partitions_sets_the_cap(backend):
    b, log = backend
    b.append(FakeDF(log), "people", num_partitions=3)
    (w,) = log
    assert w.opts["numPartitions"] == 3


def test_truncate_load_uses_truncate_overwrite(backend):
    """K3: truncate-then-load must be Spark's truncate=True overwrite —
    delete-all + reload, never drop/recreate (preserves grants/indexes,
    reference core.py:205-213 semantics)."""
    b, log = backend
    b.append(FakeDF(log), "people", schema="s", truncate=True)
    (w,) = log
    assert w.opts["dbtable"] == "s.people"
    assert w.opts["truncate"] is True
    assert w.saved_mode == "overwrite"
    assert w.opts["batchsize"] == 1000


def test_smallint_and_varchar_buckets_in_ddl():
    bool_spec = ColumnSpec("flag")  # 0/1 bool-ish bucket stays SMALLINT
    for v in ("0", "1"):
        bool_spec.observe(v)
    wide = ColumnSpec("blob")  # 600 chars -> next varchar bucket (1000)
    wide.observe("x" * 600)
    assert to_create_table_column_types([bool_spec, wide]) == (
        "flag SMALLINT, blob VARCHAR(1000)"
    )
