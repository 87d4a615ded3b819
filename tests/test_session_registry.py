"""The session registry (session.session_memo and its private lookup):
one store for every memoized table, silver, bronze fixture, open extract,
stamped page and scoped persist, keyed on the session UUID.

- a `newSession()` gets its own `load_tables` temp views and entries;
- `scoped_persist` unpersists the scope's previous generation;
- an extract write drops only the open relations under its directory;
- stamped pages keep at most `_STAMPED_CAP` scopes and evict (and
  unpersist) the least recently used one;
- a `None` key builds on every call.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _cached(df) -> bool:
    """True while the JVM cache manager holds `df`'s plan."""
    return df.storageLevel != StorageLevel.NONE


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _keys_of(spark):
    from classic_fcd_spark import session

    uuid = spark._jsparkSession.sessionUUID()
    return [k[1] for k in session._SESSION_MEMO if k[0] == uuid]


def test_perfbench_names_are_the_one_store():
    from classic_fcd_spark import session
    from classic_fcd_spark.sources import fixtures

    store = session._SESSION_MEMO
    assert session._SHINGLE_CACHE is store
    assert session._SHINGLE_STATS is store
    assert fixtures._BRONZE_CACHE is store


def test_new_session_gets_its_own_tables_and_entries(spark):
    from classic_fcd_spark.session import load_tables

    mine = load_tables(spark, SF_SMALL)
    assert load_tables(spark, SF_SMALL) is mine
    other = spark.newSession()
    assert "orders" not in _temp_views(other)
    theirs = load_tables(other, SF_SMALL)
    assert theirs is not mine
    assert "orders" in _temp_views(other)
    assert ("tables", SF_SMALL) in _keys_of(other)
    # the other session's miss dropped this session's entries (rule 1);
    # this session rebuilds its own and drops the other's in turn
    assert _keys_of(spark) == []
    again = load_tables(spark, SF_SMALL)
    assert again is not mine
    assert _keys_of(other) == []
    assert "orders" in _temp_views(spark)


def test_scoped_persist_unpersists_previous_generation(spark):
    from classic_fcd_spark.session import scoped_persist

    first = scoped_persist(spark.range(7), "test:scoped")
    assert _cached(first)
    second = scoped_persist(spark.range(11), "test:scoped")
    assert _cached(second)
    assert not _cached(first)
    assert _keys_of(spark).count(("scoped", "test:scoped")) == 1
    second.unpersist()


def test_extract_write_drops_only_its_prefix(spark, tmp_path):
    from classic_fcd_spark.serving.extract import open_extract, write_tx_lookup_extract

    txs = spark.createDataFrame([("h1", 1), ("h2", 2)], "hash string, height long")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_tx_lookup_extract(txs, a, num_buckets=2)
    write_tx_lookup_extract(txs, b, num_buckets=2)
    rel_a = open_extract(spark, f"{a}/tx_by_hash")
    rel_b = open_extract(spark, f"{b}/tx_by_hash")
    assert open_extract(spark, f"{a}/tx_by_hash") is rel_a

    write_tx_lookup_extract(txs, a, num_buckets=2)
    assert ("extract", f"{a}/tx_by_hash") not in _keys_of(spark)
    assert open_extract(spark, f"{a}/tx_by_hash") is not rel_a
    assert open_extract(spark, f"{b}/tx_by_hash") is rel_b
    assert open_extract(spark, f"{b}/tx_by_hash", refresh=True) is not rel_b


def test_stamped_cap_evicts_least_recently_used(spark):
    from classic_fcd_spark import session
    from classic_fcd_spark.serving.detail import _STAMPED_CAP, _stamped_for

    session._evict(lambda k: k[1][:1] == ("stamped",))

    def txs(i):
        # a distinct plan per scope: equal plans share one cache entry
        return spark.range(i + 1).select(
            F.timestamp_seconds("id").alias("timestamp"),
            F.col("id").cast("string").alias("hash"),
        )

    frames = {i: _stamped_for(f"scope{i}", txs(i)) for i in range(_STAMPED_CAP)}
    assert all(_cached(df) for df in frames.values())
    assert _stamped_for("scope0", txs(0)) is frames[0]  # a hit refreshes scope0

    newest = _stamped_for(f"scope{_STAMPED_CAP}", txs(_STAMPED_CAP))
    stamped = [k for k in _keys_of(spark) if k[0] == "stamped"]
    assert len(stamped) == _STAMPED_CAP
    assert ("stamped", "scope1") not in stamped
    assert not _cached(frames[1])
    assert _stamped_for("scope0", txs(0)) is frames[0]
    assert _cached(frames[0]) and _cached(newest)
    session._evict(lambda k: k[1][:1] == ("stamped",))
    assert not _cached(newest)


def test_none_key_builds_every_call(spark):
    from classic_fcd_spark import session

    calls = []

    def build():
        calls.append(1)
        return len(calls)

    before = len(session._SESSION_MEMO)
    assert session.session_memo(spark, None, build) == 1
    assert session.session_memo(spark, None, build) == 2
    assert len(session._SESSION_MEMO) == before
    assert session.session_memo(spark, "test:none-key", build) == 3
    assert session.session_memo(spark, "test:none-key", build) == 3
