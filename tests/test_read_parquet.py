"""read_parquet (sources/tables.py): a parquet read with the schema given.

Contract under test:
* the schema and the optimized plan equal plain ``spark.read.parquet``'s,
  for every fixture table at three scale factors, a vault window, a
  pyarrow file without Spark's footer schema and a nanosecond-timestamp
  file;
* a second read of an unchanged file submits no Spark job; a rewritten
  file is inferred again;
* the engine's footer consumers share one footer read per file version
  (``sources.tables.footer``), and an unreadable part fails the sink's
  empty check.
"""

from __future__ import annotations

import glob
import os
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from basin_cli_spark.sources import tables as TB
from basin_cli_spark.sources.tables import TABLES, read_parquet
from tests.conftest import SF_DIR

# the three committed fixture decades, siblings of the default test dir
_SF_DIRS = tuple(
    os.path.join(os.path.dirname(SF_DIR), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")
)


def _optimized(df) -> str:
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def _assert_same_read(spark, path) -> None:
    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert _optimized(got) == _optimized(want)


@pytest.mark.parametrize("sf", _SF_DIRS, ids=os.path.basename)
@pytest.mark.parametrize("table", TABLES)
def test_fixture_table_reads_like_spark(spark, sf, table):
    _assert_same_read(spark, os.path.join(sf, f"{table}.parquet"))


def test_vault_window_reads_like_spark(spark, tmp_path):
    """A window directory written by WindowedVaultSink carries Spark's
    footer schema, which read_parquet takes without a Spark job."""
    from basin_cli_spark.streaming.window_sink import WindowedVaultSink, run_stream
    from tests.test_streaming import PRIV, SCHEMAS, TX1, _write_tx

    wal_dir = str(tmp_path / "wal")
    _write_tx(wal_dir, "tx1.jsonl", TX1)
    sink = WindowedVaultSink(str(tmp_path / "out"), SCHEMAS, private_key_hex=PRIV)
    assert run_stream(spark, wal_dir, sink, str(tmp_path / "ckpt")).awaitTermination(120)
    (path,) = [r.path for r in sink.events(spark).collect()]
    parts = glob.glob(os.path.join(path, "*.parquet"))
    assert parts and all(
        TB._SPARK_SCHEMA_KEY in pq.read_metadata(p).metadata for p in parts
    )
    assert _jobs_of(spark, lambda: read_parquet(spark, path)) == []
    _assert_same_read(spark, path)


def test_pyarrow_file_without_spark_schema(spark, tmp_path):
    path = str(tmp_path / "plain.parquet")
    pq.write_table(
        pa.table({"a": pa.array([1, 2], pa.int32()), "b": ["x", None],
                  "c": pa.array([b"\x00", b"\x01"], pa.binary())}),
        path,
    )
    assert TB._SPARK_SCHEMA_KEY not in (pq.read_metadata(path).metadata or {})
    _assert_same_read(spark, path)


def test_nanosecond_timestamp_file(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "v": [1.5, 2.5]}), path)
    _assert_same_read(spark, path)
    assert read_parquet(spark, path).schema["ts"].dataType.typeName() == "long"


def _jobs_of(spark, fn) -> list[int]:
    """Spark job ids that ``fn()`` submits from this thread."""
    sc = spark.sparkContext
    group = f"read_parquet_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_submits_no_job_and_rewrite_infers_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert _jobs_of(spark, lambda: read_parquet(spark, path)), (
        "the first read of a pyarrow file infers its schema with a job"
    )
    assert _jobs_of(spark, lambda: read_parquet(spark, path)) == []
    assert _jobs_of(spark, lambda: spark.read.parquet(path)), (
        "plain spark.read.parquet infers again"
    )
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    assert _jobs_of(spark, lambda: read_parquet(spark, path))
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"] and df.count() == 3


def test_schema_memo_follows_inference_confs(spark, tmp_path):
    """binaryAsString changes the inferred type, so it is part of the key."""
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        for value in ("false", "true", "false"):
            spark.conf.set(key, value)
            _assert_same_read(spark, path)
    finally:
        spark.conf.set(key, old)


def test_remote_and_partitioned_paths_fall_through(spark, tmp_path):
    """A partitioned directory is read by plain spark.read.parquet, so
    its partition column is still discovered."""
    root = tmp_path / "part"
    (root / "k=1").mkdir(parents=True)
    pq.write_table(pa.table({"a": [1]}), str(root / "k=1" / "f.parquet"))
    assert TB._data_files(str(root)) is None
    df = read_parquet(spark, str(root))
    assert df.columns == ["a", "k"]
    assert TB.file_identity("s3a://bucket/x.parquet") is None


def test_corpus_count_reads_footers_and_follows_a_rewrite(spark, tmp_path):
    """llm_ops._corpus_count sums the footers' num_rows with no Spark
    job, and an embeddings file rewritten at the same path with another
    row count is counted afresh."""
    from basin_cli_spark.queries.llm_ops import _corpus_count
    from basin_cli_spark.sources import load_table

    path = str(tmp_path / "embeddings.parquet")
    for n in (5, 9):
        pq.write_table(pa.table({"vec_id": list(range(n))}), path, row_group_size=2)
        df = load_table(spark, str(tmp_path), "embeddings")
        counts = []
        assert _jobs_of(spark, lambda: counts.append(_corpus_count(df))) == []
        assert counts == [n]


def test_footer_read_once_per_file_version(spark, tmp_path, monkeypatch):
    """Every engine consumer of a parquet footer asks sources.tables.footer:
    on one window file the vault sink just wrote, its empty check, a
    footer-schema read_parquet, spread's row-group count, the corpus
    count and a drain's decoded bytes read the footer once between them.
    Rewritten at the same path, the file is read once more, and each of
    them returns the new fact."""
    from basin_cli_spark.operators.layout import _row_groups
    from basin_cli_spark.queries.llm_ops import _corpus_count
    from basin_cli_spark.queries.streaming_queries import _decoded_bytes
    from basin_cli_spark.streaming import window_sink as WS

    reads = []
    real_read = pq.read_metadata

    def read_metadata(where, *args, **kwargs):
        reads.append(where)
        return real_read(where, *args, **kwargs)

    monkeypatch.setattr(pq, "read_metadata", read_metadata)
    monkeypatch.setattr(WS, "materialize_table", lambda records, table, columns: records)
    sink = WS.WindowedVaultSink(str(tmp_path / "out"), {"t": []})
    row = sink._export(spark.range(10).coalesce(1).selectExpr("id AS a"), "t", [], 0)
    (part,) = glob.glob(os.path.join(row["path"], "*.parquet"))

    def facts():
        df = read_parquet(spark, row["path"])
        (uri,) = df.inputFiles()
        return (df.columns, _row_groups(uri), _corpus_count(df),
                _decoded_bytes(part), WS._written_rows([part]))

    def decoded(meta):
        return sum(meta.row_group(i).total_byte_size for i in range(meta.num_row_groups))

    assert facts() == (["a"], 1, 10, decoded(real_read(part)), 10)
    assert reads == [os.path.realpath(part)]

    spark_schema = spark.range(1).selectExpr("id AS a", "id AS b").schema.json()
    table = pa.table({"a": list(range(30)), "b": list(range(30))})
    table = table.replace_schema_metadata({TB._SPARK_SCHEMA_KEY: spark_schema})
    pq.write_table(table, part, row_group_size=10)
    for crc in glob.glob(os.path.join(row["path"], ".*.crc")):
        os.remove(crc)
    assert facts() == (["a", "b"], 3, 30, decoded(real_read(part)), 30)
    assert reads == [os.path.realpath(part)] * 2


def test_export_raises_on_an_unreadable_part(tmp_path):
    """The sink's empty check counts rows from the footers, and a part
    whose footer cannot be read raises instead of passing for an empty
    window."""
    from basin_cli_spark.streaming.window_sink import _written_rows

    good, bad = str(tmp_path / "good.parquet"), str(tmp_path / "bad.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), good)
    with open(bad, "wb") as f:
        f.write(b"not parquet")
    assert _written_rows([good]) == 2
    with pytest.raises(OSError, match="bad.parquet"):
        _written_rows([good, bad])
