"""Structural guards for the JDBC Postgres catalog adapter's pushdown SQL
(no live server in this container — these pin the introspection surface)."""

from __future__ import annotations

from schemamap_spark.catalog.jdbc import (
    COLUMNS_SQL,
    CONSTRAINTS_SQL,
    INDEXES_SQL,
    RELATIONS_SQL,
)


def test_relations_sql_shape():
    s = RELATIONS_SQL.lower()
    assert "pg_catalog.pg_class" in s and "pg_catalog.pg_namespace" in s
    assert "relkind in ('r','v','m')" in s
    for alias in ("schema_name", "table_name", "object_type", "has_usage", "approx_rows"):
        assert alias in s
    assert "'pg_catalog'" in s and "'information_schema'" in s  # ignored schemas


def test_columns_sql_shape():
    s = COLUMNS_SQL.lower()
    assert "pg_catalog.pg_attribute" in s
    assert "att.attnum > 0" in s and "not att.attisdropped" in s
    assert "format_type" in s and "pg_get_expr" in s and "col_description" in s


def test_constraints_sql_shape():
    s = CONSTRAINTS_SQL.lower()
    assert "pg_catalog.pg_constraint" in s
    assert "pg_get_constraintdef" in s
    assert "union all" in s and "attgenerated" in s  # generated-column pseudo-constraints
    assert "'generated_column'" in s


def test_indexes_sql_shape():
    s = INDEXES_SQL.lower()
    assert "pg_catalog.pg_index" in s
    assert "indisprimary = false" in s and "ix.indisvalid" in s
    assert "regexp_replace(pg_get_indexdef" in s


def test_engine_doctor_api(spark, engine):
    rep = engine.doctor()
    assert "schemamap_readonly" in rep["roles_reaching_schemamap"]
    assert rep["smo_columns"] > 1300
    assert isinstance(rep["installation"]["mdes_defined"], bool)
    some_grantee = sorted(rep["grants"])[0]
    assert all(isinstance(v, int) for v in rep["grants"][some_grantee].values())


def test_fixture_catalog_role_fixtures_fall_back(spark, tmp_path):
    """A custom fixture dir without role_edges/table_grants parquet (they were
    added later than the catalog fixtures) must fall back to the repo defaults
    instead of breaking doctor()."""
    import shutil

    from schemamap_spark.catalog.fixture import DEFAULT_FIXTURE_DIR, FixtureCatalog

    custom = tmp_path / "fixtures"
    custom.mkdir()
    for f in ("cat_rel", "cat_attr", "cat_constr", "cat_idx"):
        shutil.copy(f"{DEFAULT_FIXTURE_DIR}/{f}.parquet", custom / f"{f}.parquet")
    cat = FixtureCatalog(spark, str(custom))
    assert cat.role_edges().count() > 0
    assert cat.table_grants().count() > 0
    # catalog fixtures still come from the custom dir
    assert cat.relations().count() > 0


def _closure_oracle(fixture_dir: str) -> list:
    """Members reaching `schemamap` per the q20 DuckDB recursive-CTE oracle."""
    import duckdb

    from schemamap_spark.suite.catalog_suite import FIX, ORACLE_SQL

    sql = ORACLE_SQL["q20_transitive_closure"].replace(FIX, fixture_dir)
    con = duckdb.connect()
    try:
        return sorted(m for m, r in con.sql(sql).fetchall() if r == "schemamap")
    finally:
        con.close()


def _grants_oracle(fixture_dir: str) -> dict:
    import duckdb

    from schemamap_spark.suite.imports_suite import FIX, ORACLE_SQL

    con = duckdb.connect()
    try:
        rows = con.sql(ORACLE_SQL["doctor_grants"].replace(FIX, fixture_dir)).fetchall()
    finally:
        con.close()
    out: dict = {}
    for grantee, priv, n in rows:
        out.setdefault(grantee, {})[priv] = n
    return out


def test_doctor_matches_closure_oracle(spark, engine):
    """The doctor's driver-side role walk reaches exactly the roles the
    recursive-CTE oracle pairs with `schemamap`; the grant aggregation,
    SMO count and installation check are the same as before it."""
    from schemamap_spark.catalog.fixture import DEFAULT_FIXTURE_DIR

    rep = engine.doctor()
    assert rep["roles_reaching_schemamap"] == _closure_oracle(DEFAULT_FIXTURE_DIR)
    assert len(rep["roles_reaching_schemamap"]) == 23
    assert rep["grants"] == _grants_oracle(DEFAULT_FIXTURE_DIR)
    assert rep["smo_columns"] == engine.smo().count()
    assert rep["installation"] == {
        "tenants_defined": not engine.entities.list_tenants().isEmpty(),
        "mdes_defined": bool(engine.entities._mdes),
    }


def test_doctor_matches_closure_oracle_generated(spark, tmp_path):
    """Same parity on a generated role graph with cycles, one of them
    through `schemamap` itself, long chains and unrelated components."""
    import random
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog.fixture import DEFAULT_FIXTURE_DIR, FixtureCatalog

    rng = random.Random(7)
    roles = ["schemamap"] + [f"r{i:03d}" for i in range(150)]
    edges = {(rng.choice(roles), rng.choice(roles[:40])) for _ in range(260)}
    edges |= {(f"r{i:03d}", f"r{i + 1:03d}") for i in range(40, 149)}  # a 110-hop chain
    edges |= {("r149", "r000"), ("schemamap", "r040"), ("r000", "schemamap")}
    custom = tmp_path / "fixtures"
    custom.mkdir()
    for f in ("cat_rel", "cat_attr", "cat_constr", "cat_idx", "table_grants"):
        shutil.copy(f"{DEFAULT_FIXTURE_DIR}/{f}.parquet", custom / f"{f}.parquet")
    members, roleofs = zip(*sorted(edges))
    pq.write_table(pa.table({"member": list(members), "roleof": list(roleofs)}),
                   custom / "role_edges.parquet")

    rep = SchemamapEngine(spark, FixtureCatalog(spark, str(custom))).doctor()
    want = _closure_oracle(str(custom))
    assert "schemamap" in want and "r148" in want
    assert rep["roles_reaching_schemamap"] == want
    assert rep["grants"] == _grants_oracle(str(custom))


def test_doctor_job_budget(spark, engine):
    """Fence: a warm doctor() submits a handful of Spark jobs (one collect of
    the role edges, the grant aggregation, the SMO count, the installation
    probes). The distributed role closure it used to run cost 43 jobs here,
    a few per fixpoint round; a change that brings per-round jobs back
    fails this."""
    sc = spark.sparkContext
    engine.doctor()  # first-read relation listings are not the doctor's cost
    group = "test-doctor-job-budget"
    sc.setJobGroup(group, "doctor job budget")
    try:
        engine.doctor()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 12, jobs
