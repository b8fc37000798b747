"""Seeded input generator for the four benchmark workloads.

One call, one process, no Spark: numpy + pyarrow write every input a
workload reads, under `<work>/inputs/<workload>-<size>-seed<seed>/`, and a
`manifest.json` with the planted counts the output checks compare against.
A directory whose manifest exists is reused, so generation is paid once per
(seed, size) and never inside a timed interval.

The same seed gives byte-identical files and the same manifest; the sizes
do not depend on the seed, only the contents and orders do, so two seeds
measure the same amount of work.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIR = os.path.join(REPO_ROOT, "fixtures")

# Input sizes. "full" is what the benchmark measures; "tiny" exists for
# the smoke tests. Sizes are the same for every seed.
SIZES = {
    "full": {
        "import_rows": {"supplier": 1_000, "customer": 15_000, "part": 20_000,
                        "orders": 40_000, "lineitem": 80_000},
        # 14,080 catalog columns; on a 4-core host catalog call times are the
        # same for 1 to 8 replicas (fixed per-call cost dominates)
        "catalog_replicas": 8,
        "corpus_docs": 1_200,
        "stream_landings": 10,
        "stream_docs": 5_000,
        "stream_events": 2_500,
    },
    "tiny": {
        "import_rows": {"supplier": 200, "customer": 300, "part": 300,
                        "orders": 400, "lineitem": 500},
        "catalog_replicas": 1,
        "corpus_docs": 200,
        "stream_landings": 3,
        "stream_docs": 300,
        "stream_events": 200,
    },
}

# --- import_batch -----------------------------------------------------------

# For n staged rows the base target holds keys [n/4, 3n/4) and staging
# carries keys [n/2, 3n/2), so a quarter of the clean rows update base rows
# and the rest insert. Planted defects per table, as a share of staged rows. Each defect row
# carries exactly one defect, so violation rows = sum of the counts.
DEFECT_SHARE = {"null_name": 0.004, "short_name": 0.003, "bad_prefix": 0.003,
                "dup_key_pairs": 0.002, "bad_fk": 0.004}

# table -> (key col, name col, name prefix, fk col, fk parent size, numeric col)
IMPORT_TABLES = {
    "supplier": ("s_suppkey", "s_name", "Supplier#", "s_nationkey", 25, "s_acctbal"),
    "customer": ("c_custkey", "c_name", "Customer#", "c_nationkey", 25, "c_acctbal"),
    "part": ("p_partkey", "p_name", "Part#", "p_brandkey", 50, "p_retailprice"),
    "orders": ("o_orderkey", "o_comment", "Order#", "o_custkey", 15_000, "o_totalprice"),
    "lineitem": ("l_linekey", "l_comment", "Line#", "l_partkey", 20_000, "l_extendedprice"),
}
# Every run imports COLD_IMPORT as its cold op, then cycles through
# IMPORT_CYCLE, so two seeds time the same sequence of table sizes.
COLD_IMPORT = "customer"
IMPORT_CYCLE = ["supplier", "part", "orders", "lineitem"]

# --- corpus / stream text -----------------------------------------------------

VOCAB = np.array(
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "index shard token model train eval split label score rank join cache "
    "plan stage task node graph edge shuffle spill write read commit store "
    "the a of and is to in".split()
)
LANGS = np.array(["de", "en", "es", "fr", "zh"])
SOURCES = np.array([f"src{i}" for i in range(6)])
EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])
EMB_DIMS = 64
NEAR_DUP_SHARE = 0.10   # corpus docs that are one-token edits of an original
EXACT_DUP_SHARE = 0.05  # corpus docs that are case/space variants of an original
STREAM_DUP_SHARE = 0.20  # stream docs repeating an earlier (or same-landing) text


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _write_parquet(table: pa.Table, path: str) -> None:
    # no pandas metadata, fixed writer settings: same seed -> same bytes
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy", write_statistics=True)


def _texts(rng: np.random.Generator, n: int, lo: int = 12, hi: int = 60) -> list[str]:
    lens = rng.integers(lo, hi, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[words[pos:pos + ln]]))
        pos += ln
    return out


def _edit_one_token(rng: np.random.Generator, text: str) -> str:
    toks = text.split(" ")
    i = int(rng.integers(0, len(toks)))
    # a token outside VOCAB, so the edit always changes the text
    toks[i] = f"edit{int(rng.integers(0, 1_000_000))}"
    return " ".join(toks)


def _case_space_variant(rng: np.random.Generator, text: str) -> str:
    # same md5(lower(trim(text))) as the original
    return ("  " if rng.random() < 0.5 else "") + text.upper() + " "


# --- import_batch inputs --------------------------------------------------------

def _gen_import(rng: np.random.Generator, rows: dict, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    tables = {}
    for name, (key, label, prefix, fk, fk_n, num) in IMPORT_TABLES.items():
        n = rows[name]
        keys = np.arange(n // 2, n // 2 + n, dtype=np.int64)
        rng.shuffle(keys)
        labels = np.array([f"{prefix}{k:09d}" for k in keys], dtype=object)
        fks = rng.integers(0, fk_n, size=n).astype(np.int64)
        nums = np.round(rng.uniform(-1000, 100_000, size=n), 2)
        tags = rng.choice(np.array(["a", "b", "c", "d"]), size=(n, 2))
        version = np.zeros(n, dtype=np.int64)

        counts = {k: max(1, int(round(n * s))) for k, s in DEFECT_SHARE.items()}
        need = sum(counts.values()) + counts["dup_key_pairs"]
        defect_rows = rng.choice(n, size=need, replace=False)
        pos = 0

        def take(k: int) -> np.ndarray:
            nonlocal pos
            sel = defect_rows[pos:pos + k]
            pos += k
            return sel

        label_out = labels.copy()
        for i in take(counts["null_name"]):
            label_out[i] = None
        for i in take(counts["short_name"]):
            label_out[i] = prefix + "1"  # matches the like rule, below min_length
        for i in take(counts["bad_prefix"]):
            label_out[i] = "X" + labels[i]
        dup_a = take(counts["dup_key_pairs"])
        dup_b = take(counts["dup_key_pairs"])
        keys[dup_b] = keys[dup_a]
        for i in take(counts["bad_fk"]):
            fks[i] = fk_n + 1 + int(rng.integers(0, 1000))

        # pad names with spaces: the trim_str forward mapping removes them
        padded = np.array(
            [None if v is None else (f" {v} " if j % 7 == 0 else v)
             for j, v in enumerate(label_out)], dtype=object)
        staging = pa.table({
            "key": pa.array([str(k) for k in keys]),
            "label": pa.array(padded.tolist(), type=pa.string()),
            "fk": pa.array([str(x) for x in fks]),
            "amount": pa.array([f"{x:.2f}" for x in nums]),
            "tags": pa.array([f"{a},{b}" for a, b in tags]),
            "version": pa.array([str(v) for v in version]),
        })
        csv_path = os.path.join(out, f"{name}.csv")
        pacsv.write_csv(staging, csv_path)

        base_n = n // 2
        base_keys = np.arange(0, base_n, dtype=np.int64) + n // 4
        base = pa.table({
            key: pa.array(base_keys),
            label: pa.array([f"{prefix}{k:09d}" for k in base_keys]),
            fk: pa.array(rng.integers(0, fk_n, size=base_n).astype(np.int64)),
            num: pa.array(np.round(rng.uniform(0, 1000, size=base_n), 2)),
            "tags": pa.array([["a", "b"]] * base_n, type=pa.list_(pa.string())),
            "version": pa.array(np.zeros(base_n, dtype=np.int64)),
        })
        _write_parquet(base, os.path.join(out, f"{name}_base.parquet"))
        parent = pa.table({"id": pa.array(np.arange(fk_n, dtype=np.int64))})
        _write_parquet(parent, os.path.join(out, f"{name}_parent.parquet"))

        # expected import summary and target size, from the planted rows
        dup_set = set(keys[dup_a].tolist())
        bad = set(defect_rows.tolist())
        bad |= {i for i in range(n) if keys[i] in dup_set}
        valid_keys = {int(keys[i]) for i in range(n) if i not in bad}
        tables[name] = {
            "rows": n,
            "defects": counts,
            "summary": {"loaded": n, "valid": n - len(bad), "violations": len(bad)},
            "target_rows": len(set(base_keys.tolist()) | valid_keys),
            "csv_bytes": os.path.getsize(csv_path),
        }
    return {"tables": tables}


# --- catalog_status inputs -------------------------------------------------------

def _gen_catalog(rng: np.random.Generator, replicas: int, out: str) -> dict:
    """The fixture catalog replicated `replicas` times: replica i > 0 renames
    every schema to `<schema>_r<i>` (and every reference to it). The seed
    scales each replica's approx_rows and shuffles row order, so candidate
    rankings differ per seed."""
    os.makedirs(out, exist_ok=True)
    schema_cols = {"cat_rel": ["schema_name"], "cat_attr": ["schema_name"],
                   "cat_constr": ["schema_name", "ref_schema"], "cat_idx": ["schema_name"],
                   "table_grants": ["table_schema"]}
    for name in ("cat_rel", "cat_attr", "cat_constr", "cat_idx", "table_grants", "role_edges"):
        src = pq.read_table(os.path.join(FIXTURE_DIR, f"{name}.parquet")).replace_schema_metadata(None)
        if name == "role_edges":
            _write_parquet(src, os.path.join(out, f"{name}.parquet"))
            continue
        parts = []
        for r in range(replicas):
            t = src
            for col in schema_cols[name]:
                vals = t.column(col).to_pylist()
                if r:
                    vals = [None if v is None else f"{v}_r{r}" for v in vals]
                t = t.set_column(t.schema.get_field_index(col), col, pa.array(vals, type=pa.string()))
            if name == "cat_rel":
                scale = int(rng.integers(1, 50))
                rows = np.asarray(t.column("approx_rows").to_pylist(), dtype=np.int64)
                t = t.set_column(t.schema.get_field_index("approx_rows"), "approx_rows",
                                 pa.array(rows * scale + rng.integers(0, 100, size=len(rows))))
            parts.append(t)
        table = pa.concat_tables(parts)
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        _write_parquet(table, os.path.join(out, f"{name}.parquet"))
    return {"replicas": replicas,
            "columns": pq.read_metadata(os.path.join(out, "cat_attr.parquet")).num_rows}


# --- corpus_curation inputs ------------------------------------------------------

def _gen_corpus(rng: np.random.Generator, n: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    n_near = int(n * NEAR_DUP_SHARE)
    n_exact = int(n * EXACT_DUP_SHARE)
    n_orig = n - n_near - n_exact
    texts = _texts(rng, n_orig)
    near_src = rng.choice(n_orig, size=n_near, replace=False)
    exact_src = rng.choice(n_orig, size=n_exact, replace=False)
    texts += [_edit_one_token(rng, texts[i]) for i in near_src]
    texts += [_case_space_variant(rng, texts[i]) for i in exact_src]
    perm = rng.permutation(n)
    texts = [texts[i] for i in perm]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n)),
        "source": pa.array(rng.choice(SOURCES, size=n)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    _write_parquet(docs, os.path.join(out, "documents.parquet"))
    vecs = rng.normal(size=(n, EMB_DIMS)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 8, size=n).astype(np.int32)),
    })
    _write_parquet(emb, os.path.join(out, "embeddings.parquet"))
    query_ids = sorted(int(x) for x in rng.choice(n, size=3, replace=False))
    return {"docs": n, "near_dups": n_near, "exact_dups": n_exact,
            "query_ids": query_ids}


# --- stream_ingest inputs ----------------------------------------------------------

def _gen_stream(rng: np.random.Generator, landings: int, n_docs: int, n_events: int,
                out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    seen: list[str] = []
    distinct: set[str] = set()
    cum_distinct = []
    next_id = 0
    for k in range(landings):
        n_dup = int(n_docs * STREAM_DUP_SHARE)
        fresh = _texts(rng, n_docs - n_dup, lo=8, hi=40)
        pool = seen + fresh
        dups = [_case_space_variant(rng, pool[i])
                for i in rng.integers(0, len(pool), size=n_dup)]
        texts = fresh + dups
        texts = [texts[i] for i in rng.permutation(len(texts))]
        seen += fresh
        distinct.update(t.strip().lower() for t in texts)
        cum_distinct.append(len(distinct))
        docs = pa.table({
            "doc_id": pa.array(np.arange(next_id, next_id + len(texts), dtype=np.int64)),
            "text": pa.array(texts),
        })
        next_id += len(texts)
        _write_parquet(docs, os.path.join(out, f"docs_{k:03d}.parquet"))
        # landing k carries day k's events, in time order across landings
        day0 = np.datetime64("2024-01-01T00:00:00", "us") + np.timedelta64(k, "D")
        offs = np.sort(rng.integers(0, 86_400_000_000, size=n_events))
        ev = pa.table({
            "event_id": pa.array(np.arange(k * n_events, (k + 1) * n_events, dtype=np.int64)),
            "ts": pa.array(day0 + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 2000, size=n_events).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n_events)),
            "value": pa.array(np.round(rng.uniform(0, 500, size=n_events), 2)),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in rng.integers(0, 100, size=n_events)]),
        })
        _write_parquet(ev, os.path.join(out, f"events_{k:03d}.parquet"))
    return {"landings": landings, "docs_per_landing": n_docs,
            "events_per_landing": n_events, "cum_distinct": cum_distinct}


GENERATORS = {
    "import_batch": lambda rng, s, d: _gen_import(rng, s["import_rows"], d),
    "catalog_status": lambda rng, s, d: _gen_catalog(rng, s["catalog_replicas"], d),
    "corpus_curation": lambda rng, s, d: _gen_corpus(rng, s["corpus_docs"], d),
    "stream_ingest": lambda rng, s, d: _gen_stream(
        rng, s["stream_landings"], s["stream_docs"], s["stream_events"], d),
}


def generate(work_dir: str, workload: str, seed: int, size: str = "full") -> tuple[str, dict]:
    """Inputs for one (workload, seed, size), generated on first use and
    cached. Returns (input dir, manifest)."""
    out = os.path.join(work_dir, "inputs", f"{workload}-{size}-seed{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one stream per workload, so adding a workload never changes another's inputs
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    manifest = GENERATORS[workload](rng, SIZES[size], tmp)
    manifest["hashes"] = {
        os.path.relpath(os.path.join(dp, f), tmp): _digest(os.path.join(dp, f))
        for dp, _, fs in sorted(os.walk(tmp)) for f in sorted(fs)
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, manifest
