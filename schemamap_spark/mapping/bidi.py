"""Bidirectional value-mapping function registry.

Reference: `bidi_mapping_fns` table seeded with trim_str / identity /
split_comma_array (rust/create_schemamap_schema.sql:112-137) plus the scalar
functions themselves (SCHEMA:86-110). Forward = applied on import,
backward = applied on export; `exact=True` means a lossless roundtrip.

All mapping functions are Column→Column (JVM expressions, no Python UDFs).
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from schemamap_spark.session import local_frame

ColumnFn = Callable[[Column], Column]


def trim_str(c: Column) -> Column:
    return F.trim(c)


def identity(c: Column) -> Column:
    return c


def split_comma_sep_str(c: Column) -> Column:
    return F.split(c, ",")


def join_array_to_comma_sep_str(c: Column) -> Column:
    return F.array_join(c, ",")


@dataclass(frozen=True)
class BidiMapping:
    name: str
    i18n: str
    forward_fn_name: str
    backward_fn_name: str
    input_type: str
    exact: bool


_SEED = [
    BidiMapping("trim_str", '{"name":{"en":"Trim"}}', "trim_str", "identity", "text", False),
    BidiMapping("identity", '{"name":{"en":"Identity"}}', "identity", "identity", "anyelement", True),
    BidiMapping("split_comma_array", '{"name":{"en":"Split Commas To Array"}}',
                "split_comma_sep_str", "join_array_to_comma_sep_str", "text", True),
]

_FNS: dict[str, ColumnFn] = {
    "trim_str": trim_str,
    "identity": identity,
    "split_comma_sep_str": split_comma_sep_str,
    "join_array_to_comma_sep_str": join_array_to_comma_sep_str,
}


class BidiMappingRegistry:
    def __init__(self):
        self._rows: dict[str, BidiMapping] = {m.name: m for m in _SEED}
        self._fns = dict(_FNS)

    def upsert(self, mapping: BidiMapping, forward: ColumnFn | None = None, backward: ColumnFn | None = None) -> None:
        """INSERT … ON CONFLICT (name) DO UPDATE semantics (SCHEMA:126-137)."""
        self._rows[mapping.name] = mapping
        if forward is not None:
            self._fns[mapping.forward_fn_name] = forward
        if backward is not None:
            self._fns[mapping.backward_fn_name] = backward

    def forward(self, name: str) -> ColumnFn:
        return self._fns[self._rows[name].forward_fn_name]

    def backward(self, name: str) -> ColumnFn:
        return self._fns[self._rows[name].backward_fn_name]

    def is_exact(self, name: str) -> bool:
        return self._rows[name].exact

    def to_df(self, spark: SparkSession) -> DataFrame:
        return local_frame(
            spark,
            [(m.name, m.i18n, m.forward_fn_name, m.backward_fn_name, m.input_type, m.exact)
             for m in sorted(self._rows.values(), key=lambda m: m.name)],
            "name string, i18n string, forward_fn_name string, backward_fn_name string, "
            "input_type string, exact boolean",
        )
