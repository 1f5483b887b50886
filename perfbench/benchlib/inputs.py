"""Seeded inputs of the two workloads. Every generator is a pure
function of its seed: the same seed writes byte-identical files.

- relayout: the source tables, rows permuted and split into files; the
  logical content is unchanged (checked by `content_digest`).
- stream_files: event files of the open-loop workload plus a manifest of
  their publication schedule.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
FILES_PER_TABLE = 4


def _rng(seed, *salt):
    return np.random.default_rng([seed, *salt])


def _write_split(table, dst, name, rng):
    """Writes `table` permuted by `rng` as FILES_PER_TABLE parquet files."""
    d = os.path.join(dst, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    perm = rng.permutation(table.num_rows)
    t = table.take(pa.array(perm)).replace_schema_metadata(None)
    bounds = np.linspace(0, t.num_rows, FILES_PER_TABLE + 1).astype(int)
    for i in range(FILES_PER_TABLE):
        part = t.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"), compression="snappy")


def read_table(src, name):
    p = os.path.join(src, f"{name}.parquet")
    if os.path.isdir(p):
        return pa.concat_tables(pq.read_table(f) for f in sorted(
            os.path.join(p, x) for x in os.listdir(p) if x.endswith(".parquet")))
    return pq.read_table(p)


def content_digest(table):
    """(rows, order-insensitive digest): the sorted 64-bit row hashes, hashed."""
    import pandas as pd
    df = table.to_pandas()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(list(v)) if hasattr(v, "__len__")
                              and not isinstance(v, str) else repr(v))
    rows = np.sort(pd.util.hash_pandas_object(df, index=False).to_numpy())
    return table.num_rows, hashlib.sha256(rows.tobytes()).hexdigest()


def source_digests(src, cache):
    """content_digest of every source table, cached in `cache` under the
    tables' sizes and modification times."""
    key = {t: list(os.stat(os.path.join(src, f"{t}.parquet"))[6:9]) for t in TABLES}
    if os.path.exists(cache):
        with open(cache) as fh:
            saved = json.load(fh)
        if saved.get("key") == key:
            return saved["digests"]
    digests = {t: list(content_digest(read_table(src, t))) for t in TABLES}
    with open(cache, "w") as fh:
        json.dump({"key": key, "digests": digests}, fh)
    return digests


def relayout(src, dst, seed):
    """Seeded physical re-layout of every table of `src` into `dst`."""
    for i, name in enumerate(TABLES):
        _write_split(pq.read_table(os.path.join(src, f"{name}.parquet")), dst, name,
                     _rng(seed, 1, i))


# ---- stream_open_loop ------------------------------------------------------

USERS = 1000
REGIONS = ("africa", "americas", "asia", "europe", "oceania")
EVENTS_PER_FILE = 20
FILE_SPAN_MS = 6000          # event time covered by one file
LATE_SHARE = 0.1             # events stamped up to LATE_MAX_MS before their file
LATE_MAX_MS = 90_000         # well within the 3-minute grace
DUP_SHARE = 0.02             # events redelivered 1-5 files later
EPOCH_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z


def stream_files(dst, seed, warm, open_files, interval_ms, backlogs, backlog_files):
    """Writes events/<file>.csv, users.csv and manifest.csv into `dst`.

    Phases in publication order: `warm` files, `open_files` open-loop files
    due every `interval_ms`, then `backlogs` catch-up rounds of
    `backlog_files` each. Keys are Zipf-skewed over USERS users.
    """
    rng = _rng(seed, 4)
    os.makedirs(os.path.join(dst, "events"), exist_ok=True)
    regions = rng.integers(0, len(REGIONS), USERS)
    with open(os.path.join(dst, "users.csv"), "w", newline="\n") as fh:
        fh.writelines(f"u{u:04d},{REGIONS[regions[u]]}\n" for u in range(USERS))
    weights = 1.0 / np.arange(1, USERS + 1) ** 1.1
    weights /= weights.sum()
    rank_to_user = rng.permutation(USERS)

    phases = (["warm"] * warm + ["open"] * open_files +
              [f"backlog{b}" for b in range(backlogs) for _ in range(backlog_files)])
    n = len(phases)
    rows = [[] for _ in range(n)]
    event_id = 0
    for i in range(n):
        base = EPOCH_MS + i * FILE_SPAN_MS
        users = rank_to_user[rng.choice(USERS, EVENTS_PER_FILE, p=weights)]
        clicks = rng.integers(1, 100, EVENTS_PER_FILE)
        t = base + rng.integers(0, FILE_SPAN_MS, EVENTS_PER_FILE)
        late = rng.random(EVENTS_PER_FILE) < LATE_SHARE
        t = np.where(late, t - rng.integers(0, LATE_MAX_MS, EVENTS_PER_FILE), t)
        dup = rng.random(EVENTS_PER_FILE) < DUP_SHARE
        later = rng.integers(1, 6, EVENTS_PER_FILE)
        for k in range(EVENTS_PER_FILE):
            ev = (event_id, f"u{users[k]:04d}", int(clicks[k]), int(t[k]))
            event_id += 1
            rows[i].append(ev)
            if dup[k] and i + later[k] < n:
                rows[i + later[k]].append(ev)

    manifest = ["name,phase,due_ms,events"]
    for i, phase in enumerate(phases):
        name = f"f{i:05d}.csv"
        due = (i - warm) * interval_ms if phase == "open" else 0
        with open(os.path.join(dst, "events", name), "w", newline="\n") as fh:
            fh.writelines(f"{e},{u},{c},{t},{due}\n" for e, u, c, t in rows[i])
        manifest.append(f"{name},{phase},{due},{len(rows[i])}")
    with open(os.path.join(dst, "manifest.csv"), "w", newline="\n") as fh:
        fh.write("\n".join(manifest) + "\n")


def tree_digest(root):
    """sha256 over every file's relative path and bytes under `root`."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
