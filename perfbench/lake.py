"""lake_commit: the versioned lake's write path, timed commit -> visible."""
import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

import serve
import stats

SF = 0.01
BATCH = dict(fresh=150, dups=20, updates=20, takedowns=10)
OPTIMIZE_EVERY = 1
CYCLE_SECONDS = 20         # one commit -> visible cycle on 4 cores, seed build


def write_batches(seed, data, out, cycles):
    """One tab-separated file per commit: doc_id, deleted flag, text.
    Returns the planted near-duplicate ids, the takedown ids and the
    re-sent update ids."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 31])
    docs = pq.read_table(os.path.join(data, "documents.parquet")).to_pydict()
    n = len(docs["doc_id"])
    # near-dups copy base docs from the lower half; takedowns hit the upper
    # half, so no batch upserts and deletes the same doc_id and no planted
    # duplicate loses its original
    takedown_pool = list(rng.permutation(np.arange(n // 2, n)))
    planted, takedowns, updates, fresh_ids = [], [], [], []

    def text():
        return " ".join(rng.choice(serve.WORDS, int(rng.integers(40, 80))))
    for c in range(cycles):
        rows = []
        ids = [10_000_000 + c * 1000 + j for j in range(BATCH["fresh"])]
        rows += [(i, 0, text()) for i in ids]
        for j in range(BATCH["dups"]):
            src = int(rng.integers(0, n // 2))
            did = 20_000_000 + c * 1000 + j
            rows.append((did, 0, docs["text"][src] + " again"))
            planted.append(did)
        if fresh_ids:
            for did in rng.choice(fresh_ids, min(BATCH["updates"], len(fresh_ids)),
                                  replace=False):
                rows.append((int(did), 0, text()))
                updates.append(int(did))
        for _ in range(BATCH["takedowns"]):
            did = int(takedown_pool.pop())
            rows.append((did, 1, ""))
            takedowns.append(did)
        fresh_ids += ids
        with open(os.path.join(out, f"batch-{c:04d}.tsv"), "w") as f:
            f.write("\n".join(f"{i}\t{d}\t{t}" for i, d, t in rows))
    return planted, takedowns, updates


def run(args, work, cores, run_jvm):
    t0 = time.time()
    data = os.path.join(work, "data")
    serve.generate_tables(args.seed, SF, data)
    # a traced run records the middle one of three cycles
    cycles = 3 if args.trace else max(1, round(args.seconds / CYCLE_SECONDS))
    planted, takedowns, _ = write_batches(args.seed, data, os.path.join(work, "batches"), cycles)
    gen_s = time.time() - t0
    res, spawn = run_jvm({"workload": "lake_commit", "seed": args.seed, "trace": args.trace,
                          "cores": cores, "data_dir": data, "optimize_every": OPTIMIZE_EVERY,
                          "batch_dir": os.path.join(work, "batches")})
    setup_s = gen_s + (res["setup_end_epoch_ms"] / 1000.0 - spawn)

    errors = []
    if not res["view_matches_recompute"]:
        errors.append("readView differs from the recompute over readCorpusAt")
    if res["manifest_rows"] != cycles:
        errors.append(f"manifest holds {res['manifest_rows']} commits, expected {cycles}")
    decision = {d: s for d, s in res["decisions"]}
    wrong = [d for d in planted if decision.get(d) != "duplicate"]
    if wrong:
        errors.append(f"{len(wrong)} of {len(planted)} planted near-duplicates not "
                      f"rejected as duplicates, e.g. {wrong[:3]}")
    visible = set(res["head_ids"]) & set(takedowns)
    if visible:
        errors.append(f"{len(visible)} taken-down docs still served")
    cyc = res["cycles"]
    vis = [c["visible_ms"] for c in cyc]
    attempted = 3 * cycles + 4
    notes = [f"setup: generate {gen_s:.1f} s, session {res['session_ms'] / 1000:.1f} s, "
             f"initCorpus + createView {res['init_ms'] / 1000:.1f} s; {cycles} commit cycles "
             "(commit/snapshot/view ms): " + "; ".join(
                 f"{c['commit_ms']:.0f}/{c['snapshot_read_ms']:.0f}/{c['view_read_ms']:.0f}"
                 for c in cyc)]
    if not args.trace:
        metrics, tail_note = stats.op_metrics(setup_s, vis, 1000.0 * len(vis) / sum(vis),
                                              "commit cycles")
        notes.append(tail_note)
    else:
        metrics, layers = layer_metrics(res)
        notes.append("layers " + json.dumps(layers))
    notes.append(f"error_rate {len(errors)}/{attempted}" + "".join(f"\n  {e}" for e in errors))
    return {"correct": not errors, "attempted": attempted, "failed": len(errors),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "notes": notes, "trace": {"spans": res["spans"]} if args.trace else None}


def layer_metrics(res):
    """The declared per-layer metrics and the issue's layer detail. An op
    is one commit -> visible cycle of the traced ones."""
    cyc = res["cycles"]
    layers = {
        "commit.ms": (stats.median([c["commit_ms"] for c in cyc]), "ms"),
        "commit.jobs": (stats.median([c["commit_jobs"] for c in cyc]), "count"),
        "commit.add_batch_ms": (stats.median([c["add_batch_ms"] for c in cyc]), "ms"),
        "snapshot_read.ms": (stats.median([c["snapshot_read_ms"] for c in cyc]), "ms"),
        "snapshot_read.jobs": (stats.median([c["snapshot_read_jobs"] for c in cyc]), "count"),
        "view_read.ms": (stats.median([c["view_read_ms"] for c in cyc]), "ms"),
        "view_read.jobs": (stats.median([c["view_read_jobs"] for c in cyc]), "count"),
        "lake.files": (res["lake_files"], "count"),
        "lake.bytes": (res["lake_bytes"], "bytes"),
        "lake.admit_ratio": (res["admit_ratio"], "ratio"),
    }
    traced = [c for c in cyc if c["traced"]]
    ops = [([f"commit#{c['batch']}", f"snapshot_read@{c['cycle']}", f"view_read@{c['cycle']}"],
            c["start_ms"], c["start_ms"] + c["visible_ms"]) for c in traced]
    plain = [c["visible_ms"] for c in cyc if not c["traced"]]
    overhead = 100.0 * (stats.median([c["visible_ms"] for c in traced]) / stats.median(plain) - 1)
    return (stats.runtime_metrics(res, ops, overhead),
            {k: {"value": v, "unit": u} for k, (v, u) in layers.items()})
