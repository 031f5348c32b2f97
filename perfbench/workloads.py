"""Workload definitions, seeded inputs and output checks of the benchmark."""
import json
import math
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

WORKLOADS = {
    "mix_sf0.1": {
        "kind": "queries", "sf": 0.1,
        "ops": ["q1_pricing_summary", "agg_hash", "window_rank", "fn_string",
                "scale_incremental_agg", "stats_ks_test", "graph_degree", "text_token_count",
                "mm_batch_schedule", "pipeline_spec"],
    },
    "etl_ingest": {"kind": "etl", "sf": 0.01, "increments": 2, "update_share": 0.1},
}
# Set-ups per run, each in a fresh JVM timed from its launch; setup_s is
# their median. The last one goes on to run the workload.
SETUPS = 3
# Warm passes run after the cold pass but not measured: the JIT is still
# compiling through the first one (it reads ~15% slower than the next).
# The last of them is the check pass, whose outputs the checks read.
SETTLE_PASSES = 1
# Measured warm passes at least; a traced run alternates traced and untraced
# passes and needs two of each for the tracing overhead.
MIN_MEASURED = 2
MIN_MEASURED_TRACED = 4

# Layers a span can belong to; run.py reports each one's share of self time.
LAYERS = ["harness", "operators", "plans", "exec.driver", "exec.scheduler", "exec.tasks",
          "materialize", "etl.spec", "etl.keymap", "etl.upsert", "etl.sink", "streaming"]


def dataset(sf, seed, out):
    """Base tables at scale `sf`, generated from the run's seed."""
    gen.write(out, gen.tables(sf, seed))
    return out, json.load(open(os.path.join(out, "manifest.json")))


def _input(paths, manifest_entries):
    return {"paths": paths, "rows": sum(m["rows"] for m in manifest_entries),
            "sha256": [m["sha256"] for m in manifest_entries]}


def prepare(wl, seed, work, trace):
    d, manifest = dataset(wl["sf"], seed, os.path.join(work, "data"))
    cfg = {"kind": wl["kind"], "check_pass": SETTLE_PASSES, "setup_only": False,
           "min_warm_passes": SETTLE_PASSES + (MIN_MEASURED_TRACED if trace else MIN_MEASURED)}
    if wl["kind"] == "queries":
        cfg.update(data=d, ops=wl["ops"], inputs=[
            _input([os.path.join(d, f"{t}.parquet")], [manifest[t]]) for t in gen.TABLES])
        return {"config": cfg}
    incs, inc_manifest = increments(d, seed, wl["increments"], wl["update_share"],
                                    os.path.join(work, "inputs"))
    cfg.update(data=d, increments=incs, inputs=[
        _input([os.path.join(i, f"{t}.parquet") for i in incs],
               [m[t] for m in inc_manifest]) for t in ("lineitem", "documents")])
    return {"config": cfg, "increments": incs}


def _mix64(x):
    """splitmix64 finalizer over uint64 arrays: the seeded slice hash."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def increments(base, seed, n, update_share, out):
    """Slice lineitem and documents into `n` increments by a seeded hash of
    the row id. Increment i > 0 also re-sends a seeded share of rows already
    sent, with a new quantity and version i: the last version must win."""
    li = pq.read_table(os.path.join(base, "lineitem.parquet"))
    part = pq.read_table(os.path.join(base, "part.parquet"))
    docs = pq.read_table(os.path.join(base, "documents.parquet"))
    rng = np.random.default_rng(seed)
    with np.errstate(over="ignore"):
        s = np.uint64(seed * 0x9E3779B97F4A7C15 % (1 << 64))
        slot = _mix64(np.arange(li.num_rows, dtype=np.uint64) + s) % np.uint64(n)
        dslot = _mix64(np.arange(docs.num_rows, dtype=np.uint64) + s + np.uint64(1 << 40)) % np.uint64(n)
    names = np.asarray(part.column("p_name").to_pylist(), dtype=object)
    pk = li.column("l_partkey").to_numpy()
    ref = np.asarray([f"P{k:07d}-{names[k].replace(' ', '-')}" for k in pk], dtype=object)
    li = li.append_column("part_ref", pa.array(ref))
    li = li.add_column(0, "li_id", pa.array(np.arange(li.num_rows, dtype=np.int64)))
    slot = slot.astype(np.int64)
    dslot = dslot.astype(np.int64)
    paths, manifest = [], []
    for i in range(n):
        rows = li.filter(pa.array(slot == i))
        rows = rows.append_column("version", pa.array(np.full(rows.num_rows, i, dtype=np.int32)))
        if i > 0:
            sent = np.flatnonzero(slot < i)
            k = int(update_share * rows.num_rows)
            upd = li.take(pa.array(np.sort(rng.choice(sent, size=k, replace=False))))
            q = rng.integers(1, 51, upd.num_rows).astype(np.float64)
            upd = upd.set_column(upd.schema.get_field_index("l_quantity"), "l_quantity", pa.array(q))
            upd = upd.append_column("version", pa.array(np.full(upd.num_rows, i, dtype=np.int32)))
            rows = pa.concat_tables([rows, upd])
        d = os.path.join(out, f"inc{i:03d}")
        tables = {"lineitem": rows, "documents": docs.filter(pa.array(dslot == i))}
        paths.append(d)
        os.makedirs(d, exist_ok=True)
        m = {}
        for t, tbl in tables.items():
            p = os.path.join(d, f"{t}.parquet")
            pq.write_table(tbl, p, row_group_size=max(1, tbl.num_rows))
            m[t] = {"rows": tbl.num_rows, "sha256": gen.sha256_file(p)}
        manifest.append(m)
    return paths, manifest


def canon_df(df):
    """Canonical form of a result, as the repository's oracle gate builds it
    (tools/check_oracle.py): columns by name, rows sorted by every column."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].map(lambda x: isinstance(x, (list, tuple)) or getattr(x, "ndim", 0) > 0).any():
            df[c] = df[c].map(lambda x: tuple(x) if x is not None else None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(name, res, inputs, work):
    """Output checks; each failed check counts as a failed op."""
    wl = WORKLOADS[name]
    if wl["kind"] == "queries":
        return check_queries(name, wl, res, work)
    return check_etl(res, inputs)


def check_queries(name, wl, res, work):
    """The check pass wrote every op's result; each must equal its DuckDB
    oracle (SparkEntry.oracleSql) on the same generated tables, compared as
    the repository's oracle gate compares (tools/check_oracle.py)."""
    oracles = json.load(open(os.path.join(work, "check", "_oracle.json")))
    checked_ok = {o["name"] for o in res["ops"] if o["pass"] == SETTLE_PASSES and o["ok"]}
    con = duckdb.connect()
    for t in gen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{work}/data/{t}.parquet'")
    failed = 0
    for op in wl["ops"]:
        if op not in checked_ok:
            _log(f"check {op}: no output (the op failed)")
            failed += 1
            continue
        if op not in oracles:
            _log(f"check {op}: no oracle SQL")
            failed += 1
            continue
        got = canon_df(con.sql(f"SELECT * FROM read_parquet('{work}/check/{op}/*.parquet')").df())
        want = canon_df(con.sql(oracles[op]).df())
        why = frame_diff(got, want)
        if why:
            _log(f"check {op}: {why}")
            failed += 1
    return {"attempted": len(wl["ops"]), "failed": failed}


def frame_diff(got, want):
    """None when two canonical frames hold the same cells, else why not."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            same = (x is None and y is None) or x == y or (
                isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y))
            if not same:
                return f"row {i} column {c}: {x!r} vs oracle {y!r}"
    return None


def check_etl(res, inputs):
    """Seed-independent invariants of the last ETL pass."""
    st = res["checks"]
    con = duckdb.connect()
    incs = inputs["increments"]
    li = ", ".join(f"'{i}/lineitem.parquet'" for i in incs)
    con.sql(f"CREATE VIEW sent AS SELECT * FROM read_parquet([{li}])")
    con.sql(f"CREATE VIEW final AS SELECT * FROM read_parquet('{st['table']}/*.parquet')")
    con.sql(f"CREATE VIEW km AS SELECT * FROM read_parquet('{st['keymap']}/*.parquet')")
    q = lambda s: con.sql(s).fetchone()
    results = {}
    n, nd = q("SELECT count(*), count(DISTINCT li_id) FROM final")
    results["one_row_per_key"] = n == nd
    # last version wins: every key's row is the one sent with its highest version
    (bad,) = q("""WITH last AS (SELECT li_id, max(version) v FROM sent GROUP BY li_id),
                  want AS (SELECT s.* FROM sent s JOIN last l ON s.li_id = l.li_id AND s.version = l.v)
                  SELECT (SELECT count(*) FROM last) - (SELECT count(*) FROM final f JOIN want w
                    ON f.li_id = w.li_id AND f.version = w.version AND f.l_quantity = w.l_quantity)""")
    results["last_version_wins"] = bad == 0
    k, kd, vd, kmin, kmax = q("SELECT count(*), count(DISTINCT key), count(DISTINCT value), "
                              "min(key), max(key) FROM km")
    (refs,) = q("SELECT count(DISTINCT part_ref) FROM sent")
    results["keymap_bijection"] = k == kd == vd == refs and kmin == 0 and kmax == k - 1
    (mis,) = q("SELECT count(*) FROM final f LEFT JOIN km ON f.part_ref = km.value "
               "WHERE km.key IS NULL OR km.key <> f.part_sk")
    results["surrogate_keys_match"] = mis == 0
    epochs = [e for e in os.listdir(st["index"]) if e.startswith("epoch=")]
    results["one_epoch_per_increment"] = len(epochs) == len(incs)
    for k2, ok in results.items():
        if not ok:
            _log(f"etl check {k2} failed")
    out_bytes = sum(os.path.getsize(os.path.join(st["table"], f))
                    for f in os.listdir(st["table"]) if f.endswith(".parquet"))
    in_bytes = sum(os.path.getsize(f"{i}/lineitem.parquet") for i in incs)
    return {"attempted": len(results), "failed": sum(not v for v in results.values()),
            "out_bytes_per_in_byte": out_bytes / in_bytes}


def _log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
