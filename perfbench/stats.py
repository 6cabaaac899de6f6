"""Summary statistics shared by every workload."""
import statistics

# A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def mean(xs):
    return statistics.fmean(xs)


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    With the samples sorted, the k-th smallest has n - k samples beyond it,
    so the tail is the (n - beyond)-th smallest, at percentile
    100 * (n - beyond) / n. With `beyond` samples or fewer there is no such
    percentile; the maximum is returned and flagged `short`.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return {"value": s[-1], "pct": 100.0, "n": n, "short": True}
    k = n - beyond
    return {"value": s[k - 1], "pct": 100.0 * k / n, "n": n, "short": False}


def busy_ms(intervals):
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def max_overlap(intervals):
    """Largest number of [start, end) intervals open at one instant."""
    events = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals],
                    key=lambda x: (x[0], x[1]))
    cur = best = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


def op_metrics(setup_s, op_ms, ops_per_s, what):
    """The end-to-end metrics every workload prints, from its set-up time,
    the time of each op and the ops per second; plus a note naming the
    tail's percentile and sample count."""
    t = tail(op_ms)
    note = (f"op_ms_tail is p{t['pct']:.1f} of {t['n']} {what}"
            + (" (10 or fewer: the maximum)" if t["short"] else ""))
    return {"setup_s": (setup_s, "s"), "op_ms_p50": (median(op_ms), "ms"),
            "op_ms_tail": (t["value"], "ms"), "ops_per_s": (ops_per_s, "1/s")}, note


RUNTIME = [("jobs", "count"), ("tasks", "count"), ("shuffle_write_bytes", "bytes"),
           ("executor_run_ms", "ms"), ("driver_only_ms", "ms"), ("first_job_ms", "ms")]


def op_runtime(res, ops):
    """Spark work of each op from the listener's records in `res`.

    `ops` are (span tags, start_ms, end_ms) triples; an op's jobs and tasks
    are those the listener attributed to one of its tags. `driver_only_ms`
    is the op's length minus the time at least one of its tasks ran, and
    `first_job_ms` the time from the op's start until its first job
    started. Returns {field: [value per op]} over RUNTIME's fields."""
    tasks, jobs = {}, {}
    for span, launch, finish, run_ms, shuffle in res["tasks"]:
        tasks.setdefault(span, []).append((launch, finish, run_ms, shuffle))
    for j in res["jobs"]:
        jobs.setdefault(j["span"], []).append(j["start_ms"])
    out = {k: [] for k, _ in RUNTIME}
    for tags, lo, hi in ops:
        ts = [t for tag in tags for t in tasks.get(tag, [])]
        starts = [s for tag in tags for s in jobs.get(tag, [])]
        out["jobs"].append(len(starts))
        out["tasks"].append(len(ts))
        out["shuffle_write_bytes"].append(sum(t[3] for t in ts))
        out["executor_run_ms"].append(sum(t[2] for t in ts))
        out["driver_only_ms"].append(hi - lo - busy_ms(
            [(max(lo, a), min(hi, b)) for a, b, _, _ in ts if b > lo and a < hi]))
        out["first_job_ms"].append(min([hi] + starts) - lo)
    return out


def runtime_metrics(res, ops, overhead_pct):
    """The per-layer metrics every workload prints: the Spark runtime's
    work per op (mean over the traced ops) and the tracing overhead."""
    runtime = op_runtime(res, ops)
    m = {f"spark.{k}_per_op": (mean(runtime[k]), unit) for k, unit in RUNTIME}
    m["trace.overhead_pct"] = (overhead_pct, "%")
    return m
