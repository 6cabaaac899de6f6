"""serve_mix: the read path, oracle-checked queries and lake reads in a closed loop."""
import glob
import importlib.util
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import stats

# The mix, by module: one query per operator module at least, the
# kernel-heavy ones (Dedup, TextAnalysis, q_edit_distance) and the
# driver-heavy ones (text_bpe, pipeline_curate). The dict order is the
# order the seeded shuffle starts from.
QUERIES = {
    "q0_reference_pipeline": "Ingest", "q3_join_agg": "Relational",
    "q_window_session": "Windows", "dedup_minhash_lsh": "Dedup",
    "sim_topk_brute": "Similarity", "text_langid": "TextAnalysis", "text_bpe": "Tokenizer",
    "q_edit_distance": "Sampling", "pipeline_curate": "Curate",
}
# reads of the versioned lake, checked against the base documents and a
# recompute of the view instead of an oracle
LAKE_READS = {"lake_snapshot": "CorpusLake", "lake_view": "LakeView"}
MODULES = ["Relational", "Windows", "Ingest", "Dedup", "Similarity", "TextAnalysis", "Curate",
           "Sampling", "Tokenizer", "CorpusLake", "LakeView"]
SF = 0.01
PASS_SECONDS = 10          # a warm pass at sf0.01 on 4 cores, seed build

WORDS = ["key", "agg", "row", "scan", "slow", "fast", "table", "value", "part", "hash",
         "merge", "batch", "spark", "a", "the", "line", "sort", "window", "data", "column",
         "join", "small", "customer", "query", "order", "big", "filter", "stream", "group",
         "vector"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate_tables(seed, sf, out):
    """The fixture tables (TESTDATA.md shapes) at scale factor `sf`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 23])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
                                    "BUILDING"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)
                                .astype("datetime64[ms]")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    order = rng.permutation(n_li)
    _write(out, "lineitem", {
        "l_orderkey": okey[order], "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lno[order].astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li)
                               .astype("datetime64[ms]"))})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": _money(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:       # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(20, 80)))))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc, p=[.5, .125, .125, .125, .125]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.normal(0, 1, (n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})


def oracle_check(data_dir, out_dir, oracle_sql, names):
    """Compare each query's Spark result with its oracle SQL in DuckDB, the
    way tools/check_oracle.py does. Returns {name: error or None}."""
    import duckdb
    import pandas as pd
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name in names:
        try:
            files = glob.glob(f"{out_dir}/{name}/*.parquet")
            got = co.normalize(pd.concat([pd.read_parquet(f) for f in files]))
            exp = co.normalize(con.execute(oracle_sql[name]).df())
            out[name] = compare(got, exp)
        except Exception as e:  # a failed oracle run is a failed check
            out[name] = f"{type(e).__name__}: {e}"
    return out


def lake_check(data_dir, dump, res):
    """The lake holds no commits, so its head snapshot must equal the base
    documents; the view must equal a recompute over that snapshot."""
    errors = []
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    got = pq.read_table(os.path.join(dump, "lake_snapshot")).select(["doc_id", "text"])
    if not got.cast(docs.schema).sort_by("doc_id").equals(docs.sort_by("doc_id")):
        errors.append(f"lake_snapshot: {len(got)} rows differ from the {len(docs)} base documents")
    if not res["view_matches_recompute"]:
        errors.append("lake_view: readView differs from the recompute over readCorpusAt")
    return errors


def compare(got, exp):
    """tools/check_oracle.py's column-by-column comparison, as a function."""
    import pandas as pd  # here, like duckdb: ingest runs never load them
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), exp[c].to_numpy()
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            af, bf = a.astype(float), b.astype(float)
            if not ((af == bf) | (np.isnan(af) & np.isnan(bf))).all():
                return f"col {c}: float mismatch"
        else:
            eq = (pd.Series(a).astype(object).where(pd.notna(a), None) ==
                  pd.Series(b).astype(object).where(pd.notna(b), None)) | (pd.isna(a) & pd.isna(b))
            if not eq.all():
                return f"col {c}: {int((~eq).sum())} rows differ"
    return None


def run(args, work, cores, run_jvm):
    queries = list(QUERIES) + list(LAKE_READS)
    t0 = time.time()
    data = os.path.join(work, "data")
    generate_tables(args.seed, SF, data)
    gen_s = time.time() - t0
    # the memo guard compares two warm passes at least; a traced run
    # records every other pass, so it runs three at least
    passes = max(3 if args.trace else 2, round(args.seconds / PASS_SECONDS))
    res, spawn = run_jvm({"workload": "serve_mix", "seed": args.seed, "trace": args.trace,
                          "cores": cores, "data_dir": data, "passes": passes,
                          "queries": ",".join(queries), "dump_dir": os.path.join(work, "dump")})
    setup_s = gen_s + (res["setup_end_epoch_ms"] / 1000.0 - spawn)

    errors = []
    dump = os.path.join(work, "dump")
    oracle = oracle_check(data, dump, res["oracle_sql"], list(res["oracle_sql"]))
    errors += [f"oracle {n}: {e}" for n, e in sorted(oracle.items()) if e]
    errors += lake_check(data, dump, res)
    warm = res["passes"]
    # memo guard: a warm pass that launches fewer jobs read a leftover memo
    for q in queries:
        jobs = [p["queries"][q]["jobs"] for p in warm]
        if len(set(jobs)) != 1:
            errors.append(f"memo guard {q}: Spark jobs per warm pass {jobs}")
    # every query of every pass, and one check per query for the oracle
    # (or lake check) and the memo guard
    attempted = len(queries) * (len(warm) + 1) + 2 * len(queries)
    walls = [p["wall_ms"] / 1000.0 for p in warm]
    notes = [f"setup: generate {gen_s:.1f} s, session {res['session_ms'] / 1000:.1f} s, "
             f"createView {res['view_ms'] / 1000:.1f} s, cold pass {res['cold']['wall_ms'] / 1000:.1f} s; "
             "warm passes "
             + ", ".join(f"{w:.1f}" for w in walls) + f" s, serve_pass_s {stats.median(walls):.3f}"]
    if not args.trace:
        op_ms = [q["plan_ms"] + q["exec_ms"] for p in warm for q in p["queries"].values()]
        metrics, tail_note = stats.op_metrics(setup_s, op_ms, len(op_ms) / sum(walls), "ops")
        notes.append(tail_note)
        trace = None
    else:
        metrics, layers = layer_metrics(res, queries)
        notes.append("layers " + json.dumps(layers))
        trace = {"spans": res["spans"]}
    notes.append(f"error_rate {len(errors)}/{attempted}" + "".join(f"\n  {e}" for e in errors))
    return {"correct": not errors, "attempted": attempted, "failed": len(errors),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "notes": notes, "trace": trace}


def layer_metrics(res, queries):
    """The declared per-layer metrics and the issue's layer detail. An op
    is one query of a traced pass."""
    traced = [p for p in res["passes"] if p["traced"]]
    layers = {}
    for q in queries:
        for k in ("plan_ms", "exec_ms"):
            layers[f"query.{q}.{k}"] = (stats.median([p["queries"][q][k] for p in traced]), "ms")
        layers[f"query.{q}.jobs"] = (traced[0]["queries"][q]["jobs"], "count")
    for mod in MODULES:
        own = [q for q in queries if {**QUERIES, **LAKE_READS}[q] == mod]
        if own:
            layers[f"module.{mod}.exec_ms"] = (sum(layers[f"query.{q}.exec_ms"][0]
                                                   for q in own), "ms")
    ops = [([f"plan:{q}@{p['pass']}", f"exec:{q}@{p['pass']}"], x["start_ms"],
            x["start_ms"] + x["plan_ms"] + x["exec_ms"])
           for p in traced for q, x in p["queries"].items()]
    plain = [p["wall_ms"] for p in res["passes"] if not p["traced"]]
    overhead = 100.0 * (stats.median([p["wall_ms"] for p in traced]) / stats.median(plain) - 1)
    return (stats.runtime_metrics(res, ops, overhead),
            {k: {"value": v, "unit": u} for k, (v, u) in layers.items()})
