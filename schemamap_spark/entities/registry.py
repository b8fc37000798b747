"""Tenant / master-data-entity registries.

- `list_tenants` is a user-overridable DataFrame-returning function with a
  fixed output schema (reference rust/create_schemamap_schema.sql:6-20;
  override example docker/test_app_migrations/V002:8-16). Default: empty.
- `define_master_data_entity(name, df_or_fn)` registers a DataFrame as the
  `mde_<name>` view (reference SCHEMA:187-197); `list_mdes` enumerates the
  registry (SCHEMA:199-204).
- `update_function_definition` parity: re-defining an existing entry replaces
  it (create-or-replace semantics); non-identifier names are rejected, the
  Spark-side stand-in for the reference's quote_ident guard.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from schemamap_spark.session import local_frame

_IDENT_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")

TENANTS_SCHEMA = T.StructType([
    T.StructField("tenant_id", T.StringType()),
    T.StructField("tenant_short_name", T.StringType()),
    T.StructField("tenant_display_name", T.StringType()),
    T.StructField("tenant_locale", T.StringType()),
    T.StructField("tenant_data", T.StringType()),  # JSON at the edge
])


class EntityRegistry:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tenants_fn: Callable[[SparkSession], DataFrame] | None = None
        self._mdes: dict[str, Callable[[SparkSession], DataFrame]] = {}

    # --- tenants -------------------------------------------------------
    def define_tenants(self, fn: Callable[[SparkSession], DataFrame]) -> None:
        self._tenants_fn = fn

    def list_tenants(self) -> DataFrame:
        if self._tenants_fn is None:
            return local_frame(self.spark, [], TENANTS_SCHEMA)
        df = self._tenants_fn(self.spark)
        got = [f.name for f in df.schema.fields]
        want = [f.name for f in TENANTS_SCHEMA.fields]
        if got != want:
            raise ValueError(f"list_tenants override must return columns {want}, got {got}")
        return df

    # --- master data entities -----------------------------------------
    def define_master_data_entity(self, name: str, fn: Callable[[SparkSession], DataFrame]) -> str:
        if not _IDENT_RE.match(name):
            raise ValueError(f"invalid MDE name: {name!r}")
        self._mdes[name] = fn
        # also expose as a temp view, like the reference's `mde_<name>` view
        fn(self.spark).createOrReplaceTempView(f"mde_{name}")
        return name

    def mde(self, name: str) -> DataFrame:
        return self._mdes[name](self.spark)

    def list_mdes(self) -> DataFrame:
        return local_frame(self.spark, [(n,) for n in sorted(self._mdes)], "mde_name string")
