"""Session defaults.  The worker-path test starts Spark in a subprocess
of its own; the AQE sizing test reads the shared test session."""

import logging
import os
import subprocess
import sys
import textwrap
from types import SimpleNamespace

from basin_cli_spark.queries import REQUIRED_CONFS, ensure_session_confs
from basin_cli_spark.session import driver_memory, persist_once

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GB = 1 << 30


def test_driver_memory_is_half_of_ram():
    assert driver_memory(15 * GB) == "7680m"
    assert driver_memory(4 * GB) == "2048m"


def test_driver_memory_capped_at_16g():
    assert driver_memory(32 * GB) == "16384m"
    assert driver_memory(512 * GB) == "16384m"


def test_driver_memory_reads_this_machine():
    mb = int(driver_memory().removesuffix("m"))
    assert 0 < mb <= 16 << 10


def test_workers_import_package_from_any_cwd(tmp_path):
    """A driver started outside the checkout, with no PYTHONPATH, runs a
    Python worker that imports the package: get_spark puts the package's
    parent directory on the workers' path."""
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from basin_cli_spark.session import get_spark

        def probe(batches):
            import basin_cli_spark.session
            for b in batches:
                yield b.assign(found=int(hasattr(basin_cli_spark.session, "get_spark")))

        spark = get_spark(master="local[1]")
        print(spark.range(1).mapInPandas(probe, "id long, found int").first().found)
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-1] == "1"


def test_persist_once_fallback_warns(caplog):
    """Without the JVM cache manager, persist_once persists plainly and
    says so in one warning."""
    persisted = []
    df = SimpleNamespace(sparkSession=None, persist=lambda level: persisted.append(level) or df)
    with caplog.at_level(logging.WARNING):
        assert persist_once(df) is df
    assert len(persisted) == 1
    assert [r.fallback for r in caplog.records] == ["plain_persist"]


def test_ensure_session_confs_warns_on_locked_conf(caplog):
    """A conf the session refuses is kept, with one warning naming it;
    the other required confs are still set."""
    locked = "spark.sql.session.timeZone"
    seen = {}

    def set_conf(k, v):
        if k == locked:
            raise RuntimeError(f"cannot modify {k}")
        seen[k] = v

    with caplog.at_level(logging.WARNING):
        ensure_session_confs(SimpleNamespace(conf=SimpleNamespace(set=set_conf)))
    assert seen == {k: v for k, v in REQUIRED_CONFS.items() if k != locked}
    assert [(r.fallback, r.conf) for r in caplog.records] == [("session_conf_kept", locked)]


def test_session_aqe_sizing_confs(spark):
    """Pin the AQE sizing decision: a 16 MB advisory partition target
    (the default 64 MB coalesces high-cardinality final-agg shuffles into
    reducers whose hash maps spill — exact dedup at 100x measured 6x
    slower), and NO initialPartitionNum override (256 initial was
    measured +60% on the multi-shuffle LSH/Bloom bench trio; it's a
    per-deployment cluster conf, not a local default — session.py)."""
    assert (
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        in ("16m", "16777216", "16777216b")
    )
    assert (
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            None,
        )
        is None
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
