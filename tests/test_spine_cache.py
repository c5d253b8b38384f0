"""The chain queries' promoted tables come from one IngestPipeline sink.

The reference promotes event tables once and serves every view from
them (ImportProcedure.cs:17-27); plans/chain.py does the same by running
the production ingest round (IngestPipeline.process_batch over
chain_feed) once into a fingerprinted sink directory and reading its
final and cache tables back. These tests pin: (a) a read of the sink
after the session caches are cleared equals the first build, table by
table, cache tables included; (b) fingerprint invalidation on source
and ingest-code change; (c) a leftover tmp build is never read; (d) the
sink holds every derived tx; (e) an empty chain reads back as schema'd
empty tables; (f) frames injected into _PIPELINE_CACHE are what the
chain queries read, with no sink built.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from decimal import Decimal

import pytest

from blockchain_indexer_spark.plans import REGISTRY
from blockchain_indexer_spark.plans import chain as C
from blockchain_indexer_spark.schemas import ETH_TRANSFER_SCHEMA, TRANSACTION_SCHEMA
from blockchain_indexer_spark.streaming.runner import (
    CACHE_BALANCES,
    CACHE_TRUST,
    EVENT_TABLES,
)

SF = "/root/testdata/sf0.001"
_CACHE_DIR_ATTR = "blockchain_indexer_spark.sources.parquet._CACHE_DIR"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _clear_session_caches():
    C._PIPELINE_CACHE.clear()
    C._VIEW_CACHE.clear()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One sink built from an empty cache dir; yields the rows of its
    first read (tables and views) while the cache dir stays patched."""
    cache = tmp_path_factory.mktemp("sink_cache")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(_CACHE_DIR_ATTR, str(cache))
        _clear_session_caches()
        tables = {k: _rows(v) for k, v in C._pipeline_tables(spark, SF).items()}
        views = {k: _rows(v) for k, v in C._derived_views(spark, SF).items()}
        yield {"dir": cache, "tables": tables, "views": views}
    _clear_session_caches()


@pytest.fixture()
def fresh_cache(tmp_path, monkeypatch):
    """Point the sink at an empty dir and drop the session caches."""
    monkeypatch.setattr(_CACHE_DIR_ATTR, str(tmp_path))
    _clear_session_caches()
    yield tmp_path
    _clear_session_caches()


def _no_build(*_a, **_kw):
    raise AssertionError("the sink was rebuilt")


def test_disk_cache_round_trip_equals_fresh_compute(spark, built, monkeypatch):
    sinks = os.listdir(built["dir"] / "sf0.001")
    assert len(sinks) == 1 and sinks[0].startswith("sink-")

    _clear_session_caches()  # force the disk-read path
    monkeypatch.setattr(C, "_build_sink", _no_build)
    cached = C._pipeline_tables(spark, SF)
    assert set(cached) == {*EVENT_TABLES, CACHE_TRUST, CACHE_BALANCES}
    assert set(built["tables"]) == set(cached)
    for name, rows in built["tables"].items():
        assert _rows(cached[name]) == rows, name


def test_derived_views_round_trip(spark, built, monkeypatch):
    _clear_session_caches()
    monkeypatch.setattr(C, "_build_sink", _no_build)
    views = C._derived_views(spark, SF)
    assert set(views) == {"signups", "trust", "ledger", "balances"}
    for name, rows in built["views"].items():
        assert _rows(views[name]) == rows, name
    # trust and balances are the sink's refresh_caches output
    assert built["views"]["trust"] == built["tables"][CACHE_TRUST]
    assert built["views"]["balances"] == built["tables"][CACHE_BALANCES]


def test_sink_transaction_table_holds_every_derived_tx(spark, built):
    _clear_session_caches()
    got = C._pipeline_tables(spark, SF)["transaction"].select("hash").collect()
    want = C.derive_chain(spark, SF).select("hash").collect()
    assert sorted(r["hash"] for r in got) == sorted(r["hash"] for r in want)


def test_fingerprint_tracks_source_and_code(tmp_path, monkeypatch):
    d1 = C._spine_dir(SF, "sink")
    # same inputs → same dir
    assert C._spine_dir(SF, "sink") == d1
    # a different events.parquet (copy with its own mtime) → new dir
    alt = tmp_path / "sfalt"
    alt.mkdir()
    shutil.copy(os.path.join(SF, "events.parquet"), alt / "events.parquet")
    os.utime(alt / "events.parquet", ns=(1, 1))
    d2 = C._spine_dir(str(alt), "sink")
    assert os.path.basename(d1) != os.path.basename(d2)
    # the production round's own code is fingerprinted: an edit to any
    # of promote/caches/runner (in a copy of the package) moves it
    pkg = tmp_path / "pkg"
    shutil.copytree(
        os.path.dirname(os.path.dirname(C.__file__)),
        pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    monkeypatch.setattr(C, "__file__", str(pkg / "plans" / "chain.py"))
    base = C._code_fingerprint()
    for rel in ("operators/promote.py", "operators/caches.py", "streaming/runner.py"):
        f = pkg / rel
        orig = f.read_bytes()
        f.write_bytes(orig + b"\n# edited\n")
        assert C._code_fingerprint() != base, rel
        f.write_bytes(orig)
    assert C._code_fingerprint() == base
    # a code change → new dir
    monkeypatch.setattr(C, "_CODE_FP", "0" * 32)
    assert C._spine_dir(SF, "sink") != d1


def test_leftover_tmp_build_is_never_read(spark, fresh_cache):
    dest = C._spine_dir(SF, "sink")
    # leftovers of crashed builds of this fingerprint, each holding a
    # bogus transaction table: one of this very process, one of a
    # builder that may still be live, one an hour old
    own = f"{dest}.tmp-{os.getpid()}"
    live = f"{dest}.tmp-1"
    crashed = f"{dest}.tmp-2"
    for tmp in (own, live, crashed):
        spark.range(1).selectExpr("'0xbogus' AS hash").write.parquet(
            os.path.join(tmp, "transaction")
        )
    old = time.time() - 2 * 3600
    os.utime(crashed, (old, old))

    hashes = {
        r["hash"]
        for r in C._pipeline_tables(spark, SF)["transaction"].select("hash").collect()
    }
    assert "0xbogus" not in hashes
    assert len(hashes) == C.derive_chain(spark, SF).count()
    assert os.path.isdir(dest)
    assert not os.path.exists(own) and not os.path.exists(crashed)
    assert os.path.isdir(live)  # a concurrent builder's tmp is left alone


def test_empty_chain_reads_as_schemad_empty_tables(spark, fresh_cache, tmp_path_factory):
    """No events: the ingest writes no rows, so every event table reads
    back as an empty frame of its declared schema, no cache table
    exists, and the views over them still build."""
    import pyarrow.parquet as pq

    sf = tmp_path_factory.mktemp("sfempty")
    events = pq.read_table(os.path.join(SF, "events.parquet"))
    pq.write_table(events.slice(0, 0), sf / "events.parquet")
    tables = C._pipeline_tables(spark, str(sf))
    assert set(tables) == set(EVENT_TABLES)
    for name in EVENT_TABLES:
        assert tables[name].schema == C._EVENT_SCHEMAS[name], name
        assert tables[name].count() == 0, name
    for name in ("chain_crc_balances", "chain_current_trust", "chain_timeline_counts"):
        assert REGISTRY[name].build(spark, str(sf)).count() == 0, name


def test_injected_pipeline_tables_are_what_queries_read(spark, fresh_cache, monkeypatch):
    """The contract the live benchmark relies on: it injects its own
    sink's final tables (plus a "classified" alias of "transaction")
    into _PIPELINE_CACHE[(applicationId, sf_dir)] and checks registry
    queries on them."""
    monkeypatch.setattr(C, "_build_sink", _no_build)
    ts = dt.datetime(2021, 1, 1)

    def tx(i, labels):
        return (1, ts, f"0x{i}", i, "0xa", "0xb", Decimal(0), "0", "0x", "1", "0", labels)

    def eth(i, wei):
        return (1, ts, f"0x{i}", i, "0xa", "0xb", Decimal(wei), str(wei))

    injected = {
        n: spark.createDataFrame([], C._EVENT_SCHEMAS[n]) for n in EVENT_TABLES
    }
    injected["transaction"] = spark.createDataFrame(
        [tx(1, ["EoaEthTransfer"]), tx(2, ["EoaEthTransfer"]), tx(3, ["Unknown"])],
        TRANSACTION_SCHEMA,
    )
    injected["eth_transfer"] = spark.createDataFrame([eth(1, 5), eth(2, 7)], ETH_TRANSFER_SCHEMA)
    injected["classified"] = injected["transaction"]
    C._PIPELINE_CACHE[(spark.sparkContext.applicationId, SF)] = injected

    counts = REGISTRY["chain_classification_counts"].build(spark, SF).collect()
    assert sorted(map(tuple, counts)) == [("EoaEthTransfer", 2), ("Unknown", 1)]
    stats = REGISTRY["chain_eth_transfer_stats"].build(spark, SF).collect()
    assert [tuple(r) for r in stats] == [(2, 12)]
    assert os.listdir(fresh_cache) == []  # no sink built
