"""The benchmark workloads.

Each workload is a closed loop with one client: the next op starts when
the previous one has returned. An op is one table import, one catalog
call, one corpus pass, or one landing. `Workload.op(i)` runs op i inside
the tracer's spans and returns (items, check); the runner times the op,
then calls `check()` outside the timed interval. A check returns None when
the op's outputs are right, else a one-line reason.

BENCHMARK.json lists the workloads in LISTED_WORKLOADS; corpus_curation
and stream_ingest run only by hand (`--workload`), because one run of
either costs more of the benchmark's time budget than it can spare (see
perfbench/README.md).

Why each workload exists:

- import_batch: the write path and the product's core ("hundreds of
  production tables imported in seconds"). Large shuffles (merge full-outer
  join, unique/fk joins) and writes; the mix of table sizes sets small
  driver-bound imports beside large executor-bound ones.
- catalog_status: the reference's one-shot CLI `status`. Plan-memo hits and
  memo misses (after define/refresh) alternate in the same run. Build, py4j
  and Catalyst time are about 40% of a call's wall, so gains in the catalog
  layers (smo, concepts, entities, engine) show here.
- corpus_curation: the training-data batch pipeline. Shuffles, persisted
  frames, Python UDFs and the eager iterative graph loop.
- stream_ingest: without it `streaming/` would go unmeasured. It uses the
  exact-dedup code incrementally against a growing store, instead of once
  over the whole corpus.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil

import duckdb

from perfbench import gen

SPANS = {
    "import_batch": ["sources.read_staging_csv", "imports.run", "sources.write_parquet_atomic",
                     "imports.export", "imports.save_migrations"],
    "catalog_status": ["smo.refresh", "concepts.status_json", "entities.candidates",
                       "concepts.columns", "concepts.define", "engine.doctor"],
    "corpus_curation": ["functions.text_profile", "operators.dedup.exact",
                        "operators.dedup.minhash_lsh", "operators.ngrams.stats",
                        "operators.curation.curate", "operators.dsir.select",
                        "operators.retrieval.bm25", "operators.retrieval.hybrid_rerank"],
    "stream_ingest": ["streaming.incremental_dedup", "streaming.hourly_rollup"],
}
HEAVY_SPANS = {"imports.run", "sources.write_parquet_atomic", "smo.refresh",
               "operators.dedup.minhash_lsh", "operators.curation.curate",
               "operators.dsir.select", "operators.retrieval.hybrid_rerank",
               "streaming.incremental_dedup"}
LISTED_WORKLOADS = ["import_batch", "catalog_status"]
# per-run metrics every traced run reports, with their units
RUN_METRICS = {
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "session.start_s": "s", "session.gc_s": "s", "session.cached_rdds_end": "count",
    "session.storage_mb_end": "MB", "python_workers.cpu_s": "s",
    "tracing.overhead_pct": "%", "tracing.child_coverage": "ratio",
    "run.cpu_over_run": "ratio",
}
STREAMING_METRICS = {
    "streaming.batches": "count", "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
}
E2E_UNITS = {"setup_s": "s", "first_op_s": "s", "op_p50_s": "s",
             "items_per_s": "items/s", "retained_mb": "MB"}


def traced_spans(workload: str) -> list[str]:
    """Spans a traced run of `workload` reports: those of every listed
    workload (so every listed workload reports the same names) plus its own."""
    names = [s for w in LISTED_WORKLOADS for s in SPANS[w]]
    return names + [s for s in SPANS[workload] if s not in names]


def per_layer_units(workload: str) -> dict[str, str]:
    """Name -> unit of every per-layer metric a traced run reports."""
    out = {}
    for span in traced_spans(workload):
        out.update({f"{span}.wall_s": "s", f"{span}.build_s": "s",
                    f"{span}.jobs": "count", f"{span}.exec_cpu_s": "s"})
        if span in HEAVY_SPANS:
            out.update({f"{span}.shuffle_mb": "MB", f"{span}.spill_mb": "MB"})
    out.update(RUN_METRICS)
    if workload == "stream_ingest":
        out.update(STREAMING_METRICS)
    return out


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


def _day(x):
    return x.date() if isinstance(x, datetime.datetime) else x


def _rows_equal(got, want, tol: float = 1e-6) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or abs(float(a) - float(b)) > tol:
                    return False
            elif a != b:
                return False
    return True


class Workload:
    name = ""
    items = ""  # what items_per_s counts

    def __init__(self, inputs: str, manifest: dict, run_dir: str, tracer):
        self.inputs = inputs
        self.manifest = manifest
        self.run_dir = run_dir
        self.tracer = tracer
        self.spark = None

    def setup(self, spark) -> None:
        """The workload's own set-up, timed as part of setup_s."""
        self.spark = spark

    def kinds(self) -> list[str]:
        """The op kinds one cycle runs, in order; a run measures at least
        one of each."""
        return [self.name]

    def op_kind(self, i: int) -> str:
        kinds = self.kinds()
        return kinds[i % len(kinds)]

    def warmup_ops(self) -> int:
        """Untimed ops after the cold op: by default the rest of the first
        cycle, so every op kind has run once before any is timed."""
        return len(self.kinds()) - 1

    def max_ops(self) -> float:
        """How many ops the generated inputs allow, counting the cold op."""
        return float("inf")

    def op(self, i: int):
        raise NotImplementedError

    def stored_bytes_per_input_byte(self) -> float | None:
        return None


# --- import_batch ----------------------------------------------------------------

class ImportBatch(Workload):
    name = "import_batch"
    items = "staged rows"

    def setup(self, spark) -> None:
        from schemamap_spark.imports import ImportPipeline

        super().setup(spark)
        self.pipe = ImportPipeline(spark)
        self.warehouse = os.path.join(self.run_dir, "warehouse")
        self.done_tables: set[str] = set()

    def kinds(self) -> list[str]:
        return gen.IMPORT_CYCLE

    def warmup_ops(self) -> int:
        # Every table runs the same pipeline, which the cold import has
        # already compiled; a first import of a table runs only 15-25% slower
        # than later ones, and a warm-up cycle would cost 15 s of the run's
        # time budget.
        return 0

    def op_kind(self, i: int) -> str:
        return gen.COLD_IMPORT if i == 0 else gen.IMPORT_CYCLE[(i - 1) % len(gen.IMPORT_CYCLE)]

    def _spec(self, name: str):
        from schemamap_spark.imports import ColumnRule
        from schemamap_spark.session import load_table

        key, label, prefix, fk, _, num = gen.IMPORT_TABLES[name]
        parent = load_table(self.spark, self.inputs, f"{name}_parent")
        rules = [
            ColumnRule(key, not_null=True, unique=True),
            ColumnRule(label, not_null=True, min_length=len(prefix) + 4, max_length=40,
                       like=prefix + "%"),
            ColumnRule(fk, fk=(parent, "id")),
        ]
        mappings = {"key": (key, "identity"), "label": (label, "trim_str"),
                    "fk": (fk, "identity"), "amount": (num, "identity"),
                    "tags": ("tags", "split_comma_array"), "version": ("version", "identity")}
        casts = {key: "bigint", fk: "bigint", num: "double", "version": "bigint"}
        export = {key: ("key", "identity"), label: ("label", "trim_str"),
                  "tags": ("tags", "split_comma_array")}
        return key, rules, mappings, casts, export

    def op(self, i: int):
        from schemamap_spark.imports.states import MigrationState
        from schemamap_spark.session import load_table
        from schemamap_spark.sources.readers import read_staging_csv
        from schemamap_spark.sources.sinks import write_parquet_atomic

        name = self.op_kind(i)
        spec = self.manifest["tables"][name]
        t = self.tracer
        target_dir = os.path.join(self.warehouse, name)
        with t.span("sources.read_staging_csv"):
            staging = read_staging_csv(self.spark, os.path.join(self.inputs, f"{name}.csv"))
        with t.span("imports.run"):
            key, rules, mappings, casts, export = self._spec(name)
            target = load_table(self.spark, self.inputs, f"{name}_base")
            res = self.pipe.run(staging, target, keys=[key], column_mappings=mappings,
                                casts=casts, rules=rules, mde_name=name, version_col="version")
        with t.span("sources.write_parquet_atomic"):
            if res.merged is not None:
                write_parquet_atomic(res.merged, target_dir)
        with t.span("imports.export"):
            exported = self.pipe.export(
                self.spark.read.parquet(target_dir).limit(1000), export).collect()
        with t.span("imports.save_migrations"):
            self.pipe.save_migrations(os.path.join(self.warehouse, "_migrations"))
        self.done_tables.add(name)

        def check():
            if res.state is not MigrationState.IMPORTED:
                return f"{name}: state {res.state.value} {res.summary}"
            if res.summary != spec["summary"]:
                return f"{name}: summary {res.summary} != manifest {spec['summary']}"
            n = self.spark.read.parquet(target_dir).count()
            if n != spec["target_rows"]:
                return f"{name}: target rows {n} != {spec['target_rows']}"
            if len(exported) != min(1000, n) or any(
                    not isinstance(r["tags"], str) for r in exported):
                return f"{name}: export returned {len(exported)} rows"
            return None

        return spec["rows"], check

    def stored_bytes_per_input_byte(self) -> float | None:
        if not self.done_tables:
            return None
        # the warehouse holds one current copy per table; bill it against
        # one copy of each imported table's staged bytes
        staged = sum(self.manifest["tables"][n]["csv_bytes"] for n in self.done_tables)
        return _dir_bytes(self.warehouse) / staged


# --- catalog_status ----------------------------------------------------------------

_CALLS = ["refresh", "status_json", "candidates", "columns", "define_status", "doctor"]


class CatalogStatus(Workload):
    name = "catalog_status"
    items = "catalog calls"

    def setup(self, spark) -> None:
        from schemamap_spark import SchemamapEngine
        from schemamap_spark.catalog import FixtureCatalog

        super().setup(spark)
        self.eng = SchemamapEngine(spark, FixtureCatalog(spark, self.inputs))
        self._oracle = None

    def kinds(self) -> list[str]:
        return _CALLS

    def oracle(self) -> dict:
        """q22_status and q23_candidates DuckDB oracles, pointed at the
        generated catalog (computed once, outside any timed interval)."""
        if self._oracle is None:
            from schemamap_spark.suite.catalog_suite import FIX, ORACLE_SQL

            con = duckdb.connect()
            try:
                st = con.sql(ORACLE_SQL["q22_status"].replace(FIX, self.inputs))
                status = dict(zip(st.columns, st.fetchone()))
                cands = con.sql(ORACLE_SQL["q23_candidates"].replace(FIX, self.inputs)).fetchall()
            finally:
                con.close()
            self._oracle = {"status": status, "candidates": cands}
        return self._oracle

    def _status_check(self, row: dict):
        want = self.oracle()["status"]
        bad = {k: (row.get(k), v) for k, v in want.items() if row.get(k) != v}
        return f"status differs from oracle: {bad}" if bad else None

    def op(self, i: int):
        from pyspark.sql import functions as F

        kind = self.op_kind(i)
        t, eng = self.tracer, self.eng
        if kind == "refresh":
            with t.span("smo.refresh"):
                eng.refresh()
            return 1, lambda: None if eng.smo().count() == self.oracle()["status"][
                "column_count"] else "smo column count differs from oracle"
        if kind == "status_json":
            with t.span("concepts.status_json"):
                doc = eng.status_json()
            return 1, lambda: self._status_check(json.loads(doc))
        if kind == "candidates":
            with t.span("entities.candidates"):
                rows = eng.master_data_entity_candidates().collect()

            def check():
                got = [(r.schema_name, r.table_name, r.approx_rows, r.foreign_key_count,
                        round(r.probability_master_data, 6)) for r in rows[:10]]
                want = [tuple(r) for r in self.oracle()["candidates"]]
                return None if _rows_equal(got, want) else f"top candidates {got[:2]} != {want[:2]}"
            return 1, check
        if kind == "columns":
            with t.span("concepts.columns"):
                n_pii = eng.columns().agg(F.sum(F.col("is_pii").cast("long"))).collect()[0][0]
            return 1, lambda: None if n_pii == self.oracle()["status"]["pii_count"] else (
                f"pii count {n_pii} != oracle")
        if kind == "define_status":
            with t.span("concepts.define"):
                # replacing one concept each cycle keeps the view's width
                # steady while still invalidating the plan memos
                eng.concepts.define("bench_audit_column",
                                    lambda smo: F.col("column_name").endswith("_at"))
                row = eng.status().collect()[0].asDict()
            return 1, lambda: self._status_check(row)
        with t.span("engine.doctor"):
            rep = eng.doctor()
        return 1, lambda: None if rep["smo_columns"] == self.oracle()["status"][
            "column_count"] and rep["roles_reaching_schemamap"] else "doctor report differs"


# --- corpus_curation ----------------------------------------------------------------

class CorpusCuration(Workload):
    name = "corpus_curation"
    items = "input docs"

    def setup(self, spark) -> None:
        super().setup(spark)
        self._oracle = None

    def oracle(self) -> dict:
        if self._oracle is None:
            from schemamap_spark.suite.llm import ORACLE_SQL

            con = duckdb.connect()
            try:
                con.sql("create view documents as select * from read_parquet("
                        f"'{os.path.join(self.inputs, 'documents.parquet')}')")
                self._oracle = {q: con.sql(ORACLE_SQL[q]).fetchall()
                                for q in ("curate_funnel", "dedup_exact", "dedup_minhash_lsh")}
            finally:
                con.close()
        return self._oracle

    def op(self, i: int):
        from pyspark.sql import functions as F

        from schemamap_spark.operators.retrieval import bm25_topk, hybrid_rerank_topk
        from schemamap_spark.operators.similarity import cosine_topk
        from schemamap_spark.session import load_table
        from schemamap_spark.suite import extra, llm

        t, spark, sf = self.tracer, self.spark, self.inputs
        qids = self.manifest["query_ids"]
        with t.span("functions.text_profile"):
            llm.text_profile(spark, sf).write.format("noop").mode("overwrite").save()
        with t.span("operators.dedup.exact"):
            exact = llm.dedup_exact(spark, sf).collect()
        with t.span("operators.dedup.minhash_lsh"):
            pairs = llm.dedup_minhash_lsh(spark, sf).collect()
        with t.span("operators.ngrams.stats"):
            grams = llm.text_ngram_stats(spark, sf).collect()
        with t.span("operators.curation.curate"):
            funnel = llm.curate_funnel(spark, sf).collect()
        with t.span("operators.dsir.select"):
            picked = extra.dsir_select_q(spark, sf).collect()
        with t.span("operators.retrieval.bm25"):
            docs = load_table(spark, sf, "documents")
            q_text = docs.filter(F.col("doc_id").isin(*qids)).select(
                F.col("doc_id").alias("query_id"), "text")
            lexical = bm25_topk(docs, q_text, k=5).collect()
        with t.span("operators.retrieval.hybrid_rerank"):
            emb = load_table(spark, sf, "embeddings")
            lex = bm25_topk(docs, q_text, k=5, ordered=False)
            q_vec = emb.filter(F.col("vec_id").isin(*qids))
            dense = cosine_topk(emb, q_vec, k=5, ordered=False).select(
                "query_id", F.col("neighbor_id").alias("doc_id"), "rank")
            hybrid = hybrid_rerank_topk([lex, dense], emb, q_vec, k=5).collect()

        def check():
            o = self.oracle()
            if not _rows_equal([tuple(r) for r in funnel], o["curate_funnel"]):
                return f"curate funnel {[tuple(r) for r in funnel]} != {o['curate_funnel']}"
            if not _rows_equal([tuple(r) for r in exact], o["dedup_exact"]):
                return "exact dedup groups differ from oracle"
            got = sorted((r.i, r.j, round(r.jaccard, 6)) for r in pairs)
            if not _rows_equal(got, [tuple(r) for r in o["dedup_minhash_lsh"]]):
                return f"minhash pairs: {len(got)} vs oracle {len(o['dedup_minhash_lsh'])}"
            if len(grams) != 20 or len(picked) != 100:
                return f"ngram/dsir sizes {len(grams)}/{len(picked)}"
            if len(lexical) != 5 * len(qids) or len(hybrid) != 5 * len(qids):
                return f"retrieval sizes {len(lexical)}/{len(hybrid)}"
            return None

        return self.manifest["docs"], check


# --- stream_ingest -------------------------------------------------------------------

class StreamIngest(Workload):
    name = "stream_ingest"
    items = "landed docs"

    def setup(self, spark) -> None:
        super().setup(spark)
        root = os.path.join(self.run_dir, "stream")
        shutil.rmtree(root, ignore_errors=True)
        self.dirs = {k: os.path.join(root, k) for k in
                     ("docs_in", "events_in", "fresh", "store", "rollup",
                      "ckpt_dedup", "ckpt_rollup", "landing_tmp")}
        for k in ("docs_in", "events_in", "landing_tmp"):
            os.makedirs(self.dirs[k])
        self.progress: list[dict] = []
        self.input_bytes = 0

    def _land(self, k: int) -> None:
        """Atomically land landing k: copy beside the watched dirs, then
        rename into them, so a stream never sees a partial file."""
        for kind in ("docs", "events"):
            src = os.path.join(self.inputs, f"{kind}_{k:03d}.parquet")
            tmp = os.path.join(self.dirs["landing_tmp"], f"{kind}_{k:03d}.parquet")
            shutil.copyfile(src, tmp)
            os.rename(tmp, os.path.join(self.dirs[f"{kind}_in"], f"{kind}_{k:03d}.parquet"))
            self.input_bytes += os.path.getsize(src)

    def max_ops(self) -> float:
        return self.manifest["landings"]

    def op(self, i: int):
        from schemamap_spark.streaming.pipeline import (
            continuous_hourly_rollup, daily_from_hourly, incremental_dedup_stream,
            stream_events_from_directory)

        k = i
        if k >= self.manifest["landings"]:
            raise RuntimeError("ran out of generated landings; raise stream_landings")
        t, spark, d = self.tracer, self.spark, self.dirs
        self._land(k)
        with t.span("streaming.incremental_dedup"):
            docs = spark.readStream.schema("doc_id long, text string").parquet(d["docs_in"])
            q1 = incremental_dedup_stream(docs, d["fresh"], d["store"], d["ckpt_dedup"])
            q1.awaitTermination()
        with t.span("streaming.hourly_rollup"):
            q2 = continuous_hourly_rollup(
                stream_events_from_directory(spark, d["events_in"]), d["rollup"], d["ckpt_rollup"])
            q2.awaitTermination()
            daily = daily_from_hourly(spark, d["rollup"]).collect()
        if t.enabled:  # traced ops' micro-batches feed the streaming.* metrics
            self.progress += list(q1.recentProgress) + list(q2.recentProgress)

        def check():
            fresh = spark.read.parquet(d["fresh"]).count()
            want = self.manifest["cum_distinct"][k]
            if fresh != want:
                return f"landing {k}: {fresh} fresh rows != {want} planted distinct"
            return self._daily_check(daily, k)

        return self.manifest["docs_per_landing"], check

    def _daily_check(self, daily, k: int):
        """Every day before the last landed one is final (the watermark is
        past it); those daily rows must equal DuckDB over the landed events."""
        files = [os.path.join(self.inputs, f"events_{j:03d}.parquet") for j in range(k + 1)]
        con = duckdb.connect()
        try:
            con.sql("set timezone = 'UTC'")
            want = con.sql(
                "select date_trunc('day', ts) as day, event_type, count(*) as n, "
                "cast(sum(floor(value * 100)) as bigint) as total_cents "
                f"from read_parquet({files!r}) group by 1, 2 order by 1, 2").fetchall()
        finally:
            con.close()
        want = [(_day(r[0]),) + tuple(r[1:]) for r in want]
        got = [(_day(r.day), r.event_type, r.n, r.total_cents) for r in daily]
        last = max((r[0] for r in want), default=None)
        want = [r for r in want if r[0] != last]
        got = [r for r in got if r[0] != last]
        return None if got == want else f"landing {k}: daily rollup differs ({len(got)} vs {len(want)} rows)"

    def stored_bytes_per_input_byte(self) -> float | None:
        if not self.input_bytes:
            return None
        stored = sum(_dir_bytes(self.dirs[k]) for k in ("fresh", "store", "rollup"))
        return stored / self.input_bytes


WORKLOADS = {w.name: w for w in (ImportBatch, CatalogStatus, CorpusCuration, StreamIngest)}

