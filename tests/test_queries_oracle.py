"""Every registered query vs its DuckDB oracle at sf0.01 — the same check
the driver's correctness gate performs (order-insensitive exact value
comparison)."""

from __future__ import annotations

import pytest

# the aggregate registry, NOT queries: parametrize evaluates at import
# time, and importing only the base module would silently shrink the
# oracle sweep to whatever other test files happened to import first
from pdxbldgimport_spark import registry as Q
from tests.conftest import SF_ORACLE, SF_SMOKE, compare


@pytest.mark.parametrize("name", sorted(Q.ORACLES))
def test_query_matches_oracle(name, spark, duck):
    result = compare(Q.QUERIES[name](spark, SF_ORACLE), duck, Q.ORACLES[name])
    # every query has rows at sf0.01; an empty match would prove nothing
    assert len(result) > 0, name


def test_tile_embedding_centroid_shuffle_fallback(spark, duck, monkeypatch):
    """With the broadcast gate shut, the embedding side is joined
    without the broadcast hint and must still match the oracle."""
    from pdxbldgimport_spark import queries_spatial

    monkeypatch.setattr(queries_spatial, "EMB_BROADCAST_MAX_ROWS", 0)
    df = Q.QUERIES["tile_embedding_centroid"](spark, SF_ORACLE)
    assert "broadcast" not in df._jdf.queryExecution().logical().toString()
    compare(df, duck, Q.ORACLES["tile_embedding_centroid"])


def test_views_follow_sf_dir_within_one_session(spark):
    """Temp views are session-global: a query run on one sf dir, then
    another, then the first again must re-register the views each time."""
    def hourly(sf_dir):
        return Q.QUERIES["events_hourly"](spark, sf_dir).count()

    a, b, c = hourly(SF_SMOKE), hourly(SF_ORACLE), hourly(SF_SMOKE)
    assert a == c and b != a, (a, b, c)


def test_views_drop_a_stopped_sessions_cache_entries(spark, monkeypatch, tmp_path):
    """The session caches keep only the live session's entries: entries
    planted under another token, as left by a stopped session, are
    dropped by the first views() call of this one (the gate dump's
    directory with them), and this session's entries stay."""
    from pdxbldgimport_spark import queries, session, synth
    from pdxbldgimport_spark.streaming import gate

    queries.views(spark, SF_SMOKE)
    live = session.session_token(spark)
    dead = "app-dead@0"
    dump = tmp_path / "dump"
    dump.mkdir()
    queries._PREP_CACHE[(dead, SF_SMOKE, "footprints")] = object()
    synth._REGISTERED[dead] = SF_SMOKE
    gate._DUMP_CACHE[("events", ("user_id",), dead, SF_SMOKE)] = f"{dump}/*"
    monkeypatch.setattr(session, "_live_token", dead)

    queries.views(spark, SF_SMOKE)
    assert all(k[0] != dead for k in queries._PREP_CACHE)
    assert dead not in synth._REGISTERED and synth._REGISTERED[live] == SF_SMOKE
    assert all(k[2] != dead for k in gate._DUMP_CACHE)
    assert not dump.exists()


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
