"""ingest_hot / ingest_wide: the keyed-upsert stream, drained and paced."""
import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import stats

# Sizes are fixed per workload; --seconds does not change them.
#   docs_per_file: docs in one envelope parquet file (docs_per_msg per message)
#   max_files:     maxFilesPerTrigger of the drain, so a batch is max_files files
#   backlog_files: the fixed drain backlog: warm_batches, then 24 measured
#   warm_batches:  first drain batches that warm the JVM up, not measured
#   seed_docs:     docs merged into the store before the drain
#   paced_*:       open-loop offered load of the traced run's paced phase,
#                  below the seed build's capacity
#   replay_batches: drained batches the traced run replays layer by layer
PARAMS = {
    "ingest_hot": dict(docs_per_msg=8, docs_per_file=10_000, max_files=4,
                       backlog_files=144, warm_batches=12, seed_docs=0,
                       paced_docs_per_file=500, paced_files_per_s=8.0, paced_files=64,
                       replay_batches=4),
    "ingest_wide": dict(docs_per_msg=8, docs_per_file=10_000, max_files=1,
                        backlog_files=26, warm_batches=2, seed_docs=200_000,
                        paced_docs_per_file=1_250, paced_files_per_s=4.0, paced_files=32,
                        replay_batches=4),
}
WIDE_KEYS = 4_000_000
HOT_KEYS = 64


def generate(workload, seed, trace, work):
    """Write every input file; return the doc runs and the config keys."""
    p = PARAMS[workload]
    rng = np.random.default_rng([seed, 7 if workload == "ingest_hot" else 11])
    if workload == "ingest_hot":
        names = gen.hot_markers(rng, HOT_KEYS)
        w = 1.0 / np.arange(1, HOT_KEYS + 1) ** 1.2
        w /= w.sum()
        marker = names.__getitem__
        keys = lambda r, m: r.choice(HOT_KEYS, size=m, p=w)  # noqa: E731
        resend = 0.0
    else:
        marker = gen.wide_marker
        keys = lambda r, m: r.integers(0, WIDE_KEYS, m)  # noqa: E731
        resend = 0.05
    # the paced docs are drawn in every run, so traced and untraced runs of
    # a seed share every other input
    sizes = [("seed", p["seed_docs"]),
             ("backlog", p["backlog_files"] * p["docs_per_file"]),
             ("paced", p["paced_files"] * p["paced_docs_per_file"])]
    docs = gen.make_docs(rng, sum(n for _, n in sizes), keys, resend=resend)
    runs, lo = {}, 0
    for name, n in sizes:
        runs[name] = docs.slice(lo, lo + n)
        lo += n
    now = int(time.time()) - 100_000
    dirs = {}
    for name, per_file in [("seed", p["docs_per_file"] * 10),
                           ("backlog", p["docs_per_file"]), ("paced", p["paced_docs_per_file"])]:
        if len(runs[name]) == 0 or (name == "paced" and not trace):
            continue
        d = os.path.join(work, "in-" + name)
        gen.write_envelope_files(d, runs[name], marker, p["docs_per_msg"], per_file,
                                 name, mtime=now)
        dirs[name] = d
    conf = {"max_files": p["max_files"], "backlog_dir": dirs["backlog"],
            "replay_batches": p["replay_batches"]}
    if trace:
        conf.update(stage_dir=dirs["paced"], paced_files_per_s=p["paced_files_per_s"])
    if "seed" in dirs:
        conf["seed_dir"] = dirs["seed"]
    return runs, marker, conf


def read_store(store_dir):
    cur = open(os.path.join(store_dir, "_CURRENT")).read().strip()
    return pq.read_table(os.path.join(store_dir, cur)), cur


def gen_rows(store_dir):
    """Rows in each generation dir of a store, from the parquet footers."""
    return {g: sum(pq.ParquetFile(os.path.join(store_dir, g, f)).metadata.num_rows
                   for f in os.listdir(os.path.join(store_dir, g)) if f.endswith(".parquet"))
            for g in os.listdir(store_dir) if g.startswith("gen-")}


def check_store(store_dir, expected):
    """Mismatches between the store and the expected last-write-wins table."""
    t, _ = read_store(store_dir)
    got = t.select(expected.column_names).cast(expected.schema).sort_by("fx_marker")
    if got.equals(expected):
        return []
    keys, want = set(got.column("fx_marker").to_pylist()), \
        set(expected.column("fx_marker").to_pylist())
    return [f"{os.path.basename(store_dir)}: {len(got)} rows vs {len(expected)} expected; "
            f"{len(want - keys)} keys missing, {len(keys - want)} unexpected"]


def batch_times(progress):
    return [p["duration_ms"]["triggerExecution"] for p in progress if p["rows"] > 0]


def measured(drain, p):
    """The drain's measured batches (those after the warm-up ones), the
    epoch ms the first of them started, and the seconds from then until
    the drain returned."""
    prog = [x for x in drain["progress"] if x["rows"] > 0][p["warm_batches"]:]
    start = prog[0]["start_ms"] if prog else drain["end_ms"]
    return prog, start, (drain["end_ms"] - start) / 1000.0


def freshness(paced):
    """Per paced file: ms from when it was due until the merge holding it
    returned; plus how late the mover ran and the largest backlog."""
    batch_of = {os.path.basename(f): int(b)
                for b, files in paced["batch_files"].items() for f in files}
    end = {b: e for b, _, e in paced["merges"]}
    fresh, late, spans = [], [], []
    for name, due, moved in paced["files"]:
        done = end[batch_of[name]]
        fresh.append(done - due)
        late.append(moved - due)
        spans.append((moved, done))
    return fresh, late, stats.max_overlap(spans)


def backlog_slice(runs, p, names):
    """The backlog docs held by the named backlog files."""
    idx = sorted(int(n.split("-")[1].split(".")[0]) for n in names)
    per = p["docs_per_file"]
    return [runs["backlog"].slice(i * per, (i + 1) * per) for i in idx]


def run(args, work, cores, run_jvm):
    p = PARAMS[args.workload]
    t0 = time.time()
    runs, marker, conf = generate(args.workload, args.seed, args.trace, work)
    gen_s = time.time() - t0
    res, spawn = run_jvm(dict(conf, workload=args.workload, seed=args.seed,
                              trace=args.trace, cores=cores))
    prog, start_ms, window_s = measured(res["drain"], p)
    # set-up ends when the first measured batch starts
    setup_s = gen_s + (start_ms / 1000.0 - spawn)

    # correctness, outside every timed region
    errors = []
    drained = [runs["seed"], runs["backlog"]]
    if not args.trace:
        errors += check_store(res["drain"]["store"], gen.expected_lww(drained, marker))
    else:
        for name in ("untraced", "again"):
            errors += check_store(res["stores"][name], gen.expected_lww(drained, marker))
        errors += check_store(res["stores"]["traced"],
                              gen.expected_lww(drained + [runs["paced"]], marker))
        replayed = backlog_slice(runs, p, [f for r in res["replay"] for f in r["files"]])
        errors += check_store(res["stores"]["replay"],
                              gen.expected_lww([runs["seed"]] + replayed, marker))
        rows_out = sum(r["rows"] for r in res["replay"])
        want = sum(gen.valid_count(d) for d in replayed)
        if rows_out != want:
            errors.append(f"decode kept {rows_out} rows of the replayed batches, expected {want}")
    n_batches = len(batch_times(res["drain"]["progress"]))
    want_batches = -(-p["backlog_files"] // p["max_files"])
    if n_batches != want_batches:
        errors.append(f"drain ran {n_batches} batches, expected {want_batches}")
    # operations: every drain batch (and paced merge), and every check above
    checks = 6 if args.trace else 2
    attempted = n_batches + checks + (len(res["paced"]["merges"]) if args.trace else 0)

    first = p["warm_batches"] * p["max_files"] * p["docs_per_file"]
    docs_in = int((runs["backlog"].kind[first:] != gen.BLANK).sum())
    drain = res["drain"]
    space_amp = drain["store_bytes"] / drain["live_bytes"]
    bt = [x["duration_ms"]["triggerExecution"] for x in prog]
    notes = [f"setup: generate {gen_s:.1f} s, session {res['session_ms'] / 1000:.1f} s, "
             f"seed merge {res['seed_ms'] / 1000:.1f} s, {p['warm_batches']} warm-up batches; "
             f"measured drain {window_s:.1f} s",
             f"drain: ingest_docs_per_s {docs_in / window_s:.1f}, space_amp {space_amp:.3f}; "
             "batch ms " + " ".join(str(t) for t in batch_times(drain["progress"]))]
    if not args.trace:
        metrics, tail_note = stats.op_metrics(setup_s, bt, len(bt) / window_s, "batches")
        notes.append(tail_note)
        trace = None
    else:
        metrics, layers, trace = layer_metrics(res, p, prog, window_s, docs_in, replayed)
        notes.append("layers " + json.dumps(layers))
    notes.append(f"error_rate {len(errors)}/{attempted}" + "".join(f"\n  {e}" for e in errors))
    return {"correct": not errors, "attempted": attempted, "failed": len(errors),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "notes": notes, "trace": trace}


PROGRESS_KEYS = [("latest_offset_ms", "latestOffset"), ("get_batch_ms", "getBatch"),
                 ("planning_ms", "queryPlanning"), ("add_batch_ms", "addBatch"),
                 ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets")]


def layer_metrics(res, p, prog, window_s, docs_in, replayed):
    """The declared per-layer metrics, the issue's layer detail, and the
    trace. An op is one measured micro-batch of the traced drain."""
    layers = {}
    # Spark reports these in whole ms, often 0-5 ms: the per-batch mean
    # keeps their digits where a median would read the same every run
    for name, key in PROGRESS_KEYS:
        layers[f"streaming.{name}"] = (stats.mean([x["duration_ms"].get(key, 0) for x in prog]),
                                       "ms")
    fresh, late, backlog_max = freshness(res["paced"])
    fr_tail = stats.tail(fresh)
    layers["fresh_ms_p50"] = (stats.median(fresh), "ms")
    layers["fresh_ms_tail"] = (fr_tail["value"], "ms")
    layers["fresh_ms_tail.pct"] = (fr_tail["pct"], "%")
    layers["streaming.backlog_files_max"] = (backlog_max, "count")
    layers["streaming.generator_late_ms_max"] = (max(late), "ms")
    rep = res["replay"]
    rows_out = sum(r["rows"] for r in rep)
    docs_rep = sum(int((d.kind != gen.BLANK).sum()) for d in replayed)
    layers["ingest.decode_ms_per_batch"] = (stats.median([r["decode_ms"] for r in rep]), "ms")
    layers["ingest.docs_in"] = (docs_rep, "count")
    layers["ingest.rows_out"] = (rows_out, "count")
    layers["ingest.keep_ratio"] = (rows_out / docs_rep, "ratio")
    layers["sink.merge_ms_per_batch"] = (stats.median([r["merge_ms"] for r in rep]), "ms")
    drain = res["drain"]
    rows = gen_rows(drain["store"])
    written = sum(rows.get(f"gen-{x['batch']:020d}", 0) for x in prog)
    layers["sink.rows_written_per_doc"] = (written / docs_in, "ratio")
    layers["sink.state_rows"] = (rows[drain["live_gen"]], "count")
    layers["sink.generations"] = (drain["generations"], "count")
    layers["sink.store_bytes"] = (drain["store_bytes"], "bytes")
    layers["space_amp"] = (drain["store_bytes"] / drain["live_bytes"], "ratio")
    ops = [([f"drain#{x['batch']}"], x["start_ms"],
            x["start_ms"] + x["duration_ms"]["triggerExecution"]) for x in prog]
    # the first untraced drain warms the JVM up; the traced one runs before
    # the second, so it is compared with a warmer run and, if anything,
    # the overhead reads high
    first, again = (measured(res[d], p)[2] for d in ("drain_untraced", "drain_again"))
    m = stats.runtime_metrics(res, ops, 100.0 * (window_s / again - 1))
    layers["trace.drain_window_s"] = ({"untraced": first, "traced": window_s,
                                       "untraced_again": again}, "s")
    trace = {"spans": res["spans"]}
    return m, {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}, trace
