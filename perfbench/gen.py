"""Seeded input generators and their expected results, computed without Spark.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs. The generator is one process and uses no threads.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Doc kinds inside an envelope message.
VALID, EMPTY_MARKER, MISSING_MARKER, MALFORMED, BLANK = range(5)

# Timestamps start at the reference payload's epoch (2018-06-29) and advance
# about STEP_MS per doc, so a run crosses several UTC date boundaries.
BASE_MS = 1530305100936
STEP_MS = 400

CURRENCIES = ["EUR", "USD", "GBP", "CHF", "JPY", "AUD", "CAD", "NZD",
              "SEK", "NOK", "DKK", "PLN", "CZK", "HUF", "SGD", "HKD"]

ENVELOPE_SCHEMA = pa.schema([
    ("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
    ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")), ("timestampType", pa.int32()),
])


class Docs:
    """A run of generated docs: key id (-1 when the doc carries no usable
    key), event time in epoch millis and kind, in arrival order."""

    def __init__(self, key, ts, kind):
        self.key, self.ts, self.kind = key, ts, kind

    def __len__(self):
        return len(self.key)

    def slice(self, lo, hi):
        return Docs(self.key[lo:hi], self.ts[lo:hi], self.kind[lo:hi])


def hot_markers(rng, n=64):
    pairs = [f"{a}/{b}" for a in CURRENCIES for b in CURRENCIES if a != b]
    return [pairs[i] for i in rng.choice(len(pairs), size=n, replace=False)]


def wide_marker(k):
    return f"W{k:08d}"


def make_docs(rng, n, keys, adversarial=0.04, late=0.05, resend=0.0):
    """Draw all `n` docs of a workload in arrival order.

    `keys(rng, m)` draws m key ids. A `late` share of docs is an
    out-of-order event: it re-sends the key of an earlier doc with an older
    timestamp, so it must lose to that doc. A `resend` share re-sends an
    earlier key in order, so it wins. Timestamps are unique over the whole
    workload, so last-write-wins never meets a tie.
    """
    i = np.arange(n, dtype=np.int64)
    ts = BASE_MS + i * STEP_MS + rng.integers(0, STEP_MS // 2, n)
    key = keys(rng, n).astype(np.int64)
    drawn_key, drawn_ts = key.copy(), ts.copy()
    u = rng.random(n)
    src = (rng.random(n) * i).astype(np.int64)
    pick = (u < late + resend) & (i > 0)
    key[pick] = drawn_key[src[pick]]
    is_late = pick & (u < late)
    ts[is_late] = drawn_ts[src[is_late]] - 1 - rng.integers(0, 60_000, is_late.sum())
    kind = np.full(n, VALID, dtype=np.int8)
    adv = (rng.random(n) < adversarial) & ~pick
    kind[adv] = rng.integers(EMPTY_MARKER, BLANK + 1, adv.sum())
    key[kind != VALID] = -1
    return Docs(key, unique_ts(ts), kind)


def unique_ts(ts):
    """Smallest order-preserving bump that makes every timestamp distinct."""
    order = np.argsort(ts, kind="stable")
    s = ts[order]
    r = np.arange(len(s), dtype=np.int64)
    out = np.empty_like(ts)
    out[order] = np.maximum.accumulate(s - r) + r
    return out


def render_lines(docs, marker):
    out = []
    for k, t, kind in zip(docs.key.tolist(), docs.ts.tolist(), docs.kind.tolist()):
        if kind == VALID:
            out.append(f'{{"timestamp_ms": "{t}", "fx_marker": "{marker(k)}"}}')
        elif kind == EMPTY_MARKER:
            out.append(f'{{"timestamp_ms": "{t}", "fx_marker": ""}}')
        elif kind == MISSING_MARKER:
            out.append(f'{{"timestamp_ms": "{t}"}}')
        elif kind == MALFORMED:
            out.append(f'{{"timestamp_ms": "{t}", "fx_marker": EUR/' if t % 2
                       else f'<<not json {t}>>')
        else:
            out.append("")
    return out


def write_envelope_files(out_dir, docs, marker, docs_per_msg, docs_per_file,
                         name_prefix, first_offset=0, mtime=None):
    """Write docs as Kafka-envelope parquet files, one row per message whose
    `value` holds `docs_per_msg` newline-delimited docs (every third message
    ends with a trailing newline). Returns the file paths in arrival order."""
    os.makedirs(out_dir, exist_ok=True)
    lines = render_lines(docs, marker)
    paths = []
    offset = first_offset
    for f, lo in enumerate(range(0, len(lines), docs_per_file)):
        chunk = lines[lo:lo + docs_per_file]
        values = []
        for m, mlo in enumerate(range(0, len(chunk), docs_per_msg)):
            v = "\n".join(chunk[mlo:mlo + docs_per_msg])
            if (offset + m) % 3 == 0:
                v += "\n"
            values.append(v.encode())
        n = len(values)
        offsets = offset + np.arange(n, dtype=np.int64)
        table = pa.table([
            pa.nulls(n, pa.binary()), pa.array(values, pa.binary()),
            pa.array(["currency_exchange"] * n),
            pa.array((offsets % 3).astype(np.int32)), pa.array(offsets),
            pa.array(np.full(n, BASE_MS * 1000, dtype=np.int64)).cast(
                pa.timestamp("us", tz="UTC")),
            pa.array(np.zeros(n, dtype=np.int32)),
        ], schema=ENVELOPE_SCHEMA)
        path = os.path.join(out_dir, f"{name_prefix}-{f:05d}.parquet")
        pq.write_table(table, path, compression="snappy")
        if mtime is not None:
            # the file source orders files by modification time
            os.utime(path, (mtime + f, mtime + f))
        paths.append(path)
        offset += n
    return paths


def expected_lww(docs_list, marker):
    """The last-write-wins state over the valid docs, as the keyed upsert
    sink must hold it: a table (fx_marker, timestamp_ms string, timestamp_dt
    UTC date) sorted by fx_marker."""
    key = np.concatenate([d.key for d in docs_list])
    ts = np.concatenate([d.ts for d in docs_list])
    ok = key >= 0
    key, ts = key[ok], ts[ok]
    order = np.lexsort((ts, key))
    key, ts = key[order], ts[order]
    last = np.ones(len(key), dtype=bool)
    last[:-1] = key[1:] != key[:-1]
    key, ts = key[last], ts[last]
    t = pa.table({
        "fx_marker": pa.array([marker(k) for k in key.tolist()], pa.string()),
        "timestamp_ms": pa.array(ts.astype(str), pa.string()),
        "timestamp_dt": pa.array((ts // 86_400_000).astype(np.int32), pa.int32()).cast(pa.date32()),
    })
    return t.sort_by("fx_marker")


def valid_count(docs):
    return int((docs.kind == VALID).sum())
