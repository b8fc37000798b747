"""Tenants / MDEs / candidate ranking."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


def test_tenants_default_empty_then_override(spark, engine):
    assert engine.entities.list_tenants().count() == 0
    fixture_dir = "/root/repo/fixtures"

    engine.entities.define_tenants(
        lambda s: s.read.parquet(f"{fixture_dir}/tenants.parquet")
    )
    t = engine.entities.list_tenants()
    assert t.count() == 25
    assert [f.name for f in t.schema.fields] == [
        "tenant_id", "tenant_short_name", "tenant_display_name", "tenant_locale", "tenant_data",
    ]
    assert engine.verify_installation()["tenants_defined"] is True


def test_mde_registry(spark, engine):
    engine.entities.define_master_data_entity(
        "organizations",
        lambda s: s.read.parquet("/root/repo/fixtures/organizations.parquet"),
    )
    assert [r.mde_name for r in engine.entities.list_mdes().collect()] == ["organizations"]
    assert spark.table("mde_organizations").count() == 200


def test_candidate_ranking(engine):
    cands = engine.master_data_entity_candidates()
    rows = cands.limit(10).collect()
    assert len(rows) == 10
    # scores in [0,1], descending
    probs = [r.probability_master_data for r in rows]
    assert all(0.0 <= p <= 1.0 for p in probs)
    assert probs == sorted(probs, reverse=True)
    # master-data tables (small + heavily referenced dims) rank on top
    assert rows[0].table_name == "organizations"


def test_i18n_roundtrip(engine):
    doc = json.load(open("/root/repo/fixtures/i18n.json"))
    engine.update_i18n(doc)
    assert engine.i18n()["en"]["models"]["organizations"] == "Organizations"
    engine.update_i18n({"fr": {"models": {}}})
    assert set(engine.i18n()) == {"en", "de", "fr"}


def test_i18n_survives_engine_restart(spark, tmp_path):
    """With a warehouse the i18n store is persisted (reference keeps it
    in-database, SCHEMA:258-277) — a fresh engine over the same warehouse
    must see earlier updates."""
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import FixtureCatalog

    wh = str(tmp_path / "wh")
    first = SchemamapEngine(spark, FixtureCatalog(spark), warehouse_dir=wh)
    first.update_i18n({"en": {"models": {"organizations": "Organizations"}}})
    first.update_i18n({"de": {"models": {}}})

    reborn = SchemamapEngine(spark, FixtureCatalog(spark), warehouse_dir=wh)
    assert set(reborn.i18n()) == {"en", "de"}
    assert reborn.i18n()["en"]["models"]["organizations"] == "Organizations"


def test_warehouse_on_file_uri(spark, tmp_path):
    """The engine warehouse rides the fscommit seam: a file:// warehouse
    (the sandbox's stand-in for hdfs://) supports the snapshot refresh
    swap, re-reading the persisted SMO, and the i18n store across an
    engine restart — identically to a plain-path warehouse."""
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import FixtureCatalog

    wh = "file://" + str(tmp_path / "wh_uri")
    eng = SchemamapEngine(spark, FixtureCatalog(spark), warehouse_dir=wh)
    n1 = eng.refresh().count()
    assert n1 > 0
    n2 = eng.refresh().count()  # second refresh: swap over the existing dir
    assert n2 == n1
    import os

    assert not os.path.exists(str(tmp_path / "wh_uri" / "smo") + ".old")

    eng.update_i18n({"en": {"models": {"organizations": "Organizations"}}})
    reborn = SchemamapEngine(spark, FixtureCatalog(spark), warehouse_dir=wh)
    assert reborn.i18n()["en"]["models"]["organizations"] == "Organizations"

    plain = SchemamapEngine(
        spark, FixtureCatalog(spark), warehouse_dir=str(tmp_path / "wh_plain")
    )
    assert plain.refresh().count() == n1


def test_versioned_bootstrap_applies_once(tmp_path):
    """Flyway parity (reference core.clj:9-16): re-running init applies only
    missing versions; history records each applied migration."""
    from schemamap_spark.plans.versioning import Migration, SchemaVersionStore, apply_migrations

    wh = str(tmp_path)
    ran = []
    migs = [
        Migration(1, "layout", lambda: ran.append(1)),
        Migration(2, "seed", lambda: ran.append(2)),
    ]
    store = SchemaVersionStore(wh)
    assert apply_migrations(store, migs, dry_run=True) == ["V000001: layout", "V000002: seed"]
    assert ran == [] and store.current() == 0  # dry run: no actions, no records

    assert len(apply_migrations(store, migs)) == 2
    assert ran == [1, 2] and store.current() == 2
    assert apply_migrations(store, migs) == []  # idempotent re-run
    assert ran == [1, 2]

    migs.append(Migration(3, "upgrade", lambda: ran.append(3)))
    assert apply_migrations(store, migs) == ["V000003: upgrade"]
    assert store.current() == 3 and len(store.history()) == 3


def test_candidates_see_native_catalog_changes(spark, rdd_free):
    """ADVICE/VERDICT r18: SparkNativeCatalog's relations()/columns()
    enumerate the live Spark catalog EAGERLY into driver-row plans,
    so the engine's candidates plan memo would freeze the table set at
    first call. Such adapters must bypass the memo: a table created
    after the first candidates() call appears in the next one."""
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import SparkNativeCatalog

    native = SparkNativeCatalog(spark)
    engine = SchemamapEngine(spark, native)
    spark.range(3).toDF("id").createOrReplaceTempView("_tmp_native_probe")
    spark.sql(
        "create table if not exists native_cand_a as select id from _tmp_native_probe"
    )
    try:
        first = engine.master_data_entity_candidates()
        names1 = {r.table_name for r in first.collect()}
        assert "native_cand_a" in names1
        assert "native_cand_b" not in names1
        # the listings are driver rows held in the JVM plan, not Python RDDs
        assert all(rdd_free(f) for f in (native.relations(), native.columns(),
                                         native.constraints(), native.indexes()))

        spark.sql(
            "create table if not exists native_cand_b as "
            "select id from _tmp_native_probe"
        )
        names2 = {
            r.table_name for r in engine.master_data_entity_candidates().collect()
        }
        assert "native_cand_b" in names2  # the r18 staleness bug: memo froze this out
    finally:
        spark.sql("drop table if exists native_cand_a")
        spark.sql("drop table if exists native_cand_b")
        spark.catalog.dropTempView("_tmp_native_probe")


def test_candidates_memo_cleared_by_refresh(engine):
    """For lazy adapters the candidates plan memo is valid across calls
    (same prepared frame) but refresh() — the explicit re-read-the-catalog
    signal — must drop it."""
    c1 = engine.master_data_entity_candidates()
    assert engine.master_data_entity_candidates() is c1  # plan reuse
    engine.refresh()
    assert engine.master_data_entity_candidates() is not c1


def test_registry_frames_are_jvm_only(spark, rdd_free):
    """The registries' listings are driver-held facts: their frames must not
    plan a Python RDD, whose every action starts Python workers."""
    from schemamap_spark.entities.registry import TENANTS_SCHEMA, EntityRegistry

    reg = EntityRegistry(spark)
    tenants, mdes = reg.list_tenants(), reg.list_mdes()
    assert rdd_free(tenants) and rdd_free(mdes)
    assert tenants.schema == TENANTS_SCHEMA and tenants.collect() == []
    assert mdes.columns == ["mde_name"] and mdes.isEmpty()

    reg.define_master_data_entity("zeta", lambda s: s.range(1))
    reg.define_master_data_entity("alpha", lambda s: s.range(1))
    listed = reg.list_mdes()
    assert rdd_free(listed)
    assert [r.mde_name for r in listed.collect()] == ["alpha", "zeta"]


def test_local_frame_matches_create_dataframe(spark, monkeypatch, rdd_free):
    """`local_frame` returns exactly what `createDataFrame` returns — None,
    quotes, unicode, tz-aware and naive timestamps, dates, arrays — under a
    non-UTC process zone, where a naive datetime is local wall time (PySpark's
    `TimestampType.toInternal`), while the session zone stays UTC."""
    import datetime as dt
    import time

    from schemamap_spark.session import local_frame

    monkeypatch.setenv("TZ", "America/Sao_Paulo")
    time.tzset()
    try:
        ddl = ("id bigint, s string, ok boolean, ts timestamp, d date, "
               "keys array<int>, x double")
        rows = [
            (1, 'it\'s "quoted" \\ back', True,
             dt.datetime(2024, 3, 10, 2, 30, 0, 123456), dt.date(1969, 12, 31), [3, 1], 0.1),
            (2, "ünïcödé ✓ 日本", False,
             dt.datetime(2024, 7, 1, 12, 0, tzinfo=dt.timezone(dt.timedelta(hours=5, minutes=30))),
             dt.date(2024, 2, 29), [], -1e300),
            (3, None, None, None, None, None, None),
            (4, "", False, dt.datetime(1900, 1, 1, 0, 0, 1), dt.date(1, 1, 1), [None], 0.0),
        ]
        got, want = local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl)
        assert rdd_free(got)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        # the stored instants match too, not just their local rendering
        micros = ["id", "unix_micros(ts) AS us", "unix_date(d) AS days"]
        assert got.selectExpr(*micros).collect() == want.selectExpr(*micros).collect()

        empty = local_frame(spark, [], ddl)
        assert empty.schema == want.schema and empty.collect() == []
        with pytest.raises(TypeError):
            local_frame(spark, [], "m map<string, int>")
    finally:
        monkeypatch.undo()
        time.tzset()
