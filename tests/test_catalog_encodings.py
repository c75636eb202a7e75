"""Catalog must normalize every events.ts physical encoding to LTZ TIMESTAMP.

The driver regenerated testdata between rounds and changed events.ts from
INT64-nanos to timestamp[us] (TIMESTAMP_NTZ under Spark 4), silently breaking
every ``unix_micros(ts)`` call site. This test writes tiny events parquets in
BOTH encodings and asserts ``load_table`` yields the same LTZ timestamps for
each — so the next encoding change fails here, loudly, not in the driver gate.

It also pins ``read_parquet``'s schema cache (every ``load_table``, landed
store and streaming state read goes through it): a repeat read of
unchanged files launches no job, the listing it checks is the file set
Spark's reader reads, a changed data file or inference conf infers
again, and a row's second build reads its landed inputs with no job;
and ``landed``'s write-once rule for the inputs queries write for
themselves.
"""

from __future__ import annotations

import datetime
import os
import tempfile
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ds_mapreduce_spark.sources import catalog
from ds_mapreduce_spark.sources.catalog import landed, load_table, read_parquet

# three instants, microsecond precision, spanning a day boundary
_INSTANTS_US = [
    1_700_000_000_000_000,
    1_700_000_123_456_789,
    1_700_086_400_000_001,
]
_BASE_COLS = {
    "event_id": pa.array([1, 2, 3], type=pa.int64()),
    "user_id": pa.array([10, 20, 10], type=pa.int64()),
    "event_type": pa.array(["click", "view", "purchase"], type=pa.string()),
    "value": pa.array([1.0, 2.0, 3.0], type=pa.float64()),
    "props": pa.array(["{}", "{}", "{}"], type=pa.string()),
}


#: every physical encoding events.ts has shipped in
_ENCODINGS = {
    "int64_nanos": pa.array([us * 1000 for us in _INSTANTS_US], type=pa.int64()),
    "timestamp_us_ntz": pa.array(_INSTANTS_US, type=pa.timestamp("us")),
    "timestamp_us_utc": pa.array(_INSTANTS_US, type=pa.timestamp("us", tz="UTC")),
}


def _write_events(tmpdir: str, ts_array: pa.Array) -> str:
    cols = dict(_BASE_COLS)
    cols["ts"] = ts_array
    table = pa.table(
        {"event_id": cols["event_id"], "ts": cols["ts"], "user_id": cols["user_id"],
         "event_type": cols["event_type"], "value": cols["value"], "props": cols["props"]}
    )
    pq.write_table(table, f"{tmpdir}/events.parquet")
    return tmpdir


@pytest.mark.parametrize("encoding,ts_array", list(_ENCODINGS.items()))
def test_load_table_normalizes_ts_encoding(spark, tmp_path, encoding, ts_array):
    sf_dir = _write_events(str(tmp_path), ts_array)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", (
        f"{encoding}: ts must normalize to LTZ TIMESTAMP, got {dict(df.dtypes)['ts']}"
    )
    from pyspark.sql import functions as F

    got = [r[0] for r in df.select(F.unix_micros("ts")).orderBy("ts").collect()]
    assert got == sorted(_INSTANTS_US), f"{encoding}: epoch-µs values drifted"


def test_real_testdata_events_ts_is_ltz(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    # unix_micros must be legal on it (this is exactly what broke in r3)
    from pyspark.sql import functions as F

    assert df.select(F.unix_micros("ts")).limit(1).count() == 1


def _epoch_us(df) -> list[int]:
    from pyspark.sql import functions as F

    return [r[0] for r in df.select(F.unix_micros("ts")).orderBy("ts").collect()]


def test_repeat_load_table_launches_no_job(spark, tmp_path, jobs_launched):
    sf_dir = _write_events(str(tmp_path), _ENCODINGS["timestamp_us_ntz"])
    first, inferred = jobs_launched(lambda: load_table(spark, sf_dir, "events"))
    assert inferred >= 1, "the first read of a new path infers its schema"
    again, jobs = jobs_launched(lambda: load_table(spark, sf_dir, "events"))
    assert jobs == 0
    assert again.schema == first.schema
    assert _epoch_us(again) == sorted(_INSTANTS_US)


def test_rewritten_file_is_inferred_again(spark, tmp_path, jobs_launched):
    """The same ``events.parquet`` path rewritten in each encoding: the
    cache must see the new listing and infer again, or a stale schema
    would read the new file's ``ts`` wrongly."""
    path = str(tmp_path / "events.parquet")
    for k, (encoding, ts_array) in enumerate(_ENCODINGS.items()):
        _write_events(str(tmp_path), ts_array)
        # a distinct mtime whatever the file system's timestamp resolution
        os.utime(path, (1_600_000_000 + k, 1_600_000_000 + k))
        df, jobs = jobs_launched(lambda: load_table(spark, str(tmp_path), "events"))
        assert jobs >= 1, encoding
        assert dict(df.dtypes)["ts"] == "timestamp", encoding
        assert _epoch_us(df) == sorted(_INSTANTS_US), encoding


def test_inference_conf_change_infers_again(spark, tmp_path, jobs_launched):
    """nanosAsLong changes what an unchanged TIMESTAMP(NANOS) file
    infers to (off, Spark 4 cannot read the type at all): a flip must
    not be served the schema inferred under the other value."""
    path = str(tmp_path / "ts_ns.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([us * 1000 for us in _INSTANTS_US], type=pa.timestamp("ns"))}),
        path,
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "true")
        df, jobs = jobs_launched(lambda: read_parquet(spark, path))
        assert jobs >= 1 and dict(df.dtypes)["ts"] == "bigint"
        assert jobs_launched(lambda: read_parquet(spark, path))[1] == 0
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match=r"TIMESTAMP\(NANOS"):
            read_parquet(spark, path)
        spark.conf.set(key, "true")
        df, jobs = jobs_launched(lambda: read_parquet(spark, path))
        assert jobs == 0 and dict(df.dtypes)["ts"] == "bigint"
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_new_partition_is_inferred_again(spark, tmp_path, jobs_launched):
    """A file added in a new partition directory changes the listing:
    the new partition value's type is inferred again, not taken from
    the cached schema."""
    path = str(tmp_path / "parted")
    spark.createDataFrame([(1, 1)], "x bigint, p int").write.partitionBy("p").parquet(path)
    first = read_parquet(spark, path)
    again, jobs = jobs_launched(lambda: read_parquet(spark, path))
    assert jobs == 0 and again.schema == first.schema
    assert dict(first.dtypes)["p"] == "int"
    spark.createDataFrame([(2, "b")], "x bigint, p string").write.mode("append").partitionBy(
        "p"
    ).parquet(path)
    df, jobs = jobs_launched(lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert dict(df.dtypes)["p"] == "string"
    assert sorted(r.p for r in df.collect()) == ["1", "b"]


@pytest.mark.parametrize("kind", ["empty_dir", "missing"])
def test_unreadable_path_raises_sparks_own_error(spark, tmp_path, kind):
    path = tmp_path / "t.parquet"
    if kind == "empty_dir":
        path.mkdir()
    with pytest.raises(Exception) as spark_err:
        spark.read.parquet(str(path)).schema
    with pytest.raises(type(spark_err.value)) as ours:
        read_parquet(spark, str(path))
    assert str(ours.value) == str(spark_err.value)


def _spark_skips(name: str) -> bool:
    """Spark's ``HadoopFSUtils.shouldFilterOutPathName``, restated here
    so the listing is checked against the rule, not against itself."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _hadoop_listing(spark, path: str) -> tuple:
    """Sorted (local path, length, mtime) of the files a Hadoop
    ``listStatus`` walk finds under ``path``, less the names Spark's
    file index skips."""
    fs, p = catalog.fs_path(spark, path)
    todo, out = list(fs.listStatus(p)), []
    while todo:
        st = todo.pop()
        if _spark_skips(st.getPath().getName()):
            continue
        if st.isDirectory():
            todo.extend(fs.listStatus(st.getPath()))
        else:
            out.append((st.getPath().toUri().getPath(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(out))


def _partitioned(spark, tmp_path) -> str:
    """A ``partitionBy("day", "kind")`` directory as Spark's local writer
    leaves it (``_SUCCESS``, ``.crc`` files, nested ``day=``/``kind=``
    directories), plus a staging directory Spark's reader skips."""
    path = str(tmp_path / "parted")
    rows = [(i, d, k) for i, (d, k) in enumerate([(1, "a"), (1, "b"), (2, "a"), (3, "b")])]
    spark.createDataFrame(rows, "x bigint, day int, kind string").write.partitionBy(
        "day", "kind"
    ).parquet(path)
    os.makedirs(os.path.join(path, "_temporary", "0"))
    with open(os.path.join(path, "_temporary", "0", "part-00000.parquet"), "w") as fh:
        fh.write("not parquet")
    return path


def _rewrite(path: str, k: int) -> None:
    """Rewrite ``path`` with its own bytes and a new mtime."""
    with open(path, "rb") as fh:
        data = fh.read()
    with open(path, "wb") as fh:
        fh.write(data)
    os.utime(path, (1_600_000_000 + k, 1_600_000_000 + k))


def _files_named(path: str, pred) -> list[str]:
    return sorted(os.path.join(d, n) for d, _, names in os.walk(path) for n in names if pred(n))


def test_listing_is_the_file_set_spark_reads(spark, tmp_path):
    from urllib.parse import urlsplit

    path = _partitioned(spark, tmp_path)
    assert _files_named(path, lambda n: n == "_SUCCESS")
    assert _files_named(path, lambda n: n.endswith(".crc"))
    listing = catalog._listing(path)
    assert all("/day=" in f and "/kind=" in f for f, _, _ in listing)
    assert listing == _hadoop_listing(spark, path)
    read = spark.read.parquet(path).inputFiles()
    assert sorted(f for f, _, _ in listing) == sorted(urlsplit(f).path for f in read)
    assert catalog._entry(spark, path)[1] == listing
    assert catalog._entry(spark, f"file://{path}")[1] == listing


def test_only_local_paths_are_listed(tmp_path):
    """A path on another file system, or a schemeless path under a
    non-local ``fs.defaultFS``, gets no listing and so no record."""
    (tmp_path / "f.parquet").write_bytes(b"x")
    local = str(tmp_path / "f.parquet")

    def session(default_fs: str):
        hadoop = SimpleNamespace(get=lambda k, d=None: default_fs)
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda k, d=None: None),
            _jsc=SimpleNamespace(hadoopConfiguration=lambda: hadoop),
        )

    assert catalog._entry(session("file:///"), local)[1] != ()
    assert catalog._entry(session("file:///"), f"file:{local}")[1] != ()
    assert catalog._entry(session("hdfs://nn:8020"), local)[1] == ()
    assert catalog._entry(session("file:///"), f"hdfs://nn:8020{local}")[1] == ()
    assert catalog._entry(session("file:///"), f"s3a://bucket{local}")[1] == ()


def test_marker_and_checksum_rewrites_keep_the_hit(spark, tmp_path, jobs_launched):
    path = _partitioned(spark, tmp_path)
    first, jobs = jobs_launched(lambda: read_parquet(spark, path))
    assert jobs >= 1
    marker = _files_named(path, lambda n: n == "_SUCCESS")
    crcs = _files_named(path, lambda n: n.endswith(".crc"))
    for k, f in enumerate([*marker, crcs[0], crcs[-1]]):
        _rewrite(f, k)
        again, jobs = jobs_launched(lambda: read_parquet(spark, path))
        assert jobs == 0, f
        assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_added_or_rewritten_part_file_infers_again(spark, tmp_path, jobs_launched):
    import shutil

    path = _partitioned(spark, tmp_path)
    read_parquet(spark, path)
    parts = _files_named(path, lambda n: n.startswith("part-"))
    parts = [f for f in parts if "_temporary" not in f]
    _rewrite(parts[0], 0)
    assert jobs_launched(lambda: read_parquet(spark, path))[1] >= 1
    assert jobs_launched(lambda: read_parquet(spark, path))[1] == 0
    shutil.copy2(parts[0], os.path.join(os.path.dirname(parts[0]), "part-99999-copy.parquet"))
    df, jobs = jobs_launched(lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.count() == 5


def test_multi_path_read_hits_only_when_every_path_does(spark, tmp_path, jobs_launched):
    """Two state versions written through ``write_parquet`` read back
    together with no job; with one part file of one path touched the
    same read infers, over both paths, and records nothing."""
    a, b = str(tmp_path / "v0"), str(tmp_path / "v1")
    df = spark.createDataFrame([(1, "x"), (2, "y")], "k bigint, v string")
    catalog.write_parquet(df, a)
    catalog.write_parquet(df.where("k = 2"), b)
    both, jobs = jobs_launched(lambda: read_parquet(spark, a, b))
    assert jobs == 0
    assert sorted(both.collect()) == [(1, "x"), (2, "y"), (2, "y")]
    _rewrite(_files_named(b, lambda n: n.startswith("part-"))[0], 0)
    again, jobs = jobs_launched(lambda: read_parquet(spark, a, b))
    assert jobs >= 1 and again.schema == both.schema
    assert jobs_launched(lambda: read_parquet(spark, a))[1] == 0
    assert jobs_launched(lambda: read_parquet(spark, b))[1] >= 1


#: rows whose graded plan reads an input the row landed itself: a second
#: build in one session finds every schema on record
_LANDED_ROWS = (
    "partitioned_write_prune",
    "dynamic_partition_pruning",
    "compaction_rebalance",
    "zorder_write_prune",
    "quantile_sketch_day_range",
    "hll_sketch_day_range",
    "cms_sketch_day_range",
    "sketch_store_compaction",
    "sketch_store_retention",
)


@pytest.mark.parametrize("row", _LANDED_ROWS)
def test_warm_build_of_a_landed_row_launches_no_job(spark, sf_dir, jobs_launched, row):
    from ds_mapreduce_spark.plans.registry import load_all

    fn = load_all()[row].fn
    fn(spark, sf_dir)
    assert jobs_launched(lambda: fn(spark, sf_dir))[1] == 0


def test_parquet_schema_inference_lives_in_read_parquet() -> None:
    """Layering: in ``sources/``, ``streaming/`` and ``plans/``, a
    schema-less ``<session>.read.parquet(...)`` (one schema-inference
    job per call) appears only in ``catalog.read_parquet``, which falls
    back to it on a path it has no schema on record for. Every other
    read goes through ``read_parquet`` or passes a schema (or options,
    as the ``mergeSchema`` read does)."""
    import ast
    from pathlib import Path

    import ds_mapreduce_spark

    pkg = Path(ds_mapreduce_spark.__file__).parent
    allowed = {("catalog.py", "read_parquet")}
    found = set()

    def walk(node, path: Path, scope: tuple) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            scope = (*scope, node.name)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "read"
        ):
            found.add((path.name, ".".join(scope)))
        for child in ast.iter_child_nodes(node):
            walk(child, path, scope)

    for layer in ("sources", "streaming", "plans"):
        for path in sorted((pkg / layer).glob("*.py")):
            walk(ast.parse(path.read_text()), path, ())
    assert found == allowed, f"schema-inferring reads outside read_parquet: {found - allowed}"


def test_landed_inputs_live_in_catalog_landed() -> None:
    """Layering: a query that writes its own input lands it through
    ``catalog.landed``. Anywhere in the package, a ``gettempdir`` call,
    a ``scratch_dir`` call or a ``"_SUCCESS"`` literal (a path of its
    own, a memo of its own, a commit check of its own) appears only in
    ``catalog.scratch_dir`` and ``catalog.landed``."""
    import ast
    from pathlib import Path

    import ds_mapreduce_spark

    pkg = Path(ds_mapreduce_spark.__file__).parent
    found = set()

    def walk(node, path: Path, scope: tuple) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            scope = (*scope, node.name)
        where = (path.name, ".".join(scope))
        if isinstance(node, ast.Call):
            f = node.func
            called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if called in ("gettempdir", "scratch_dir"):
                found.add((*where, called))
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and (node.value == "_SUCCESS" or node.value.endswith("/_SUCCESS"))
        ):
            found.add((*where, "_SUCCESS"))
        for child in ast.iter_child_nodes(node):
            walk(child, path, scope)

    for path in sorted(pkg.rglob("*.py")):
        walk(ast.parse(path.read_text()), path, ())
    assert found == {
        ("catalog.py", "scratch_dir", "gettempdir"),
        ("catalog.py", "landed", "scratch_dir"),
        ("catalog.py", "landed", "_SUCCESS"),
    }, f"landed-input logic outside catalog.landed: {sorted(found)}"


@pytest.fixture
def fake_spark(monkeypatch, tmp_path):
    """Just enough of a session for ``landed`` (its application id),
    with the temp dir moved under ``tmp_path`` and an empty memo."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(catalog, "_LANDED", {})
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-1"))


def _counting_write(calls: list):
    def write(path):
        calls.append(path)
        os.makedirs(path)
        with open(os.path.join(path, "part-0"), "w") as fh:
            fh.write(str(len(calls)))
        return ("value", len(calls))

    return write


def test_landed_writes_once_per_session_tag_and_scale(fake_spark, tmp_path):
    calls: list = []
    write = _counting_write(calls)
    first = landed(fake_spark, "/data/sf0.001", "t", write)
    assert landed(fake_spark, "/data/sf0.001", "t", write) == first == ("value", 1)
    path = catalog.scratch_dir(fake_spark, "t", "/data/sf0.001")
    assert calls == [path]
    assert path == os.path.join(str(tmp_path), "ds_mapreduce_spark", "app-1", "t_sf0.001")
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    landed(fake_spark, "/data/sf0.01", "t", write)
    landed(fake_spark, "/data/sf0.001", "u", write)
    other = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-2"))
    landed(other, "/data/sf0.001", "t", write)
    assert len(calls) == 4 and len(set(calls)) == 4


def test_landed_raising_write_leaves_no_entry(fake_spark):
    """Also when the failed write left a marker of its own, as a Spark
    write does before a later step of ``write`` raises, and an entry
    from an earlier landing existed."""
    calls: list = []
    write = _counting_write(calls)
    landed(fake_spark, "/data/sf0.001", "t", write)
    path = calls[0]
    os.remove(os.path.join(path, "_SUCCESS"))

    def failing(path):
        calls.append(path)
        os.makedirs(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        landed(fake_spark, "/data/sf0.001", "t", failing)
    assert landed(fake_spark, "/data/sf0.001", "t", write) == ("value", 3)
    assert calls == [path, path, path]


def test_landed_rebuilds_into_an_emptied_directory_without_its_marker(fake_spark):
    calls: list = []
    write = _counting_write(calls)
    path = catalog.scratch_dir(fake_spark, "t", "/data/sf0.001")
    landed(fake_spark, "/data/sf0.001", "t", write)
    os.remove(os.path.join(path, "_SUCCESS"))
    with open(os.path.join(path, "stale"), "w") as fh:
        fh.write("left by the first write")
    # _counting_write's makedirs fails unless the directory was removed
    assert landed(fake_spark, "/data/sf0.001", "t", write) == ("value", 2)
    assert sorted(os.listdir(path)) == ["_SUCCESS", "part-0"]
    with open(os.path.join(path, "part-0")) as fh:
        assert fh.read() == "2"


def test_landed_hit_returns_the_first_writes_value(fake_spark):
    calls: list = []
    values = iter([{"bounds": (3, 7)}, {"bounds": (0, 0)}])

    def write(path):
        calls.append(path)
        os.makedirs(path)
        return next(values)

    first = landed(fake_spark, "/data/sf0.001", "t", write)
    assert first == {"bounds": (3, 7)}
    assert landed(fake_spark, "/data/sf0.001", "t", write) is first
    assert len(calls) == 1
