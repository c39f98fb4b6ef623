"""Seeded inputs: everything a workload reads is a function of the seed.

* ETL: the reference-shaped landing tables `daily_log`, `backup_log` and
  `servers_temp` (FIXTURES.md section A) as parquet, and the same rows as CSV
  files that the harness bulk-imports into embedded Derby.
* curate: the fixed document corpus with its `doc_id`s re-keyed by a seeded
  permutation of the same id set.

Day sizes are uneven and drawn from the seed, but the history and window
totals are fixed, so the work of a full refresh does not depend on the seed.
One window day (seeded) has no `daily_log` rows, so the program's
empty-extract guard takes its skip path.
"""
import json
import shutil
from datetime import date, datetime, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# the write-side schema registry in the reference's JSON shape (config.py:27-29);
# `last_update` lands as a string, as the reference reformats it before the load
REGISTRY = Path(__file__).resolve().parent / "registry.json"
FIRST_DAY = date(2024, 1, 1)
SIZES = {
    False: dict(hist_rows=120000, window_rows=60000, servers=5000, hist_days=14, window_days=7),
    True: dict(hist_rows=3000, window_rows=1500, servers=50, hist_days=3, window_days=3),
}
SMOKE_DOCS = 60


def _split(rng, total, n):
    """`total` rows over `n` days with weights in [0.5, 1.5), exactly."""
    w = 0.5 + rng.random(n)
    shares = w / w.sum() * total
    counts = np.floor(shares).astype(np.int64)
    rest = np.argsort(-(shares - counts), kind="stable")[: total - counts.sum()]
    counts[rest] += 1
    return counts.tolist()


def etl_plan(seed, smoke):
    s = SIZES[smoke]
    rng = np.random.default_rng(seed)
    empty = int(rng.integers(s["window_days"]))
    window = _split(rng, s["window_rows"], s["window_days"] - 1)
    daily = _split(rng, s["hist_rows"], s["hist_days"]) + window[:empty] + [0] + window[empty:]
    backup = _split(rng, s["hist_rows"], s["hist_days"]) + _split(rng, s["window_rows"], s["window_days"])
    return dict(first_day=FIRST_DAY.isoformat(), hist_days=s["hist_days"],
                window_days=s["window_days"], daily_log=daily, backup_log=backup,
                servers_temp=s["servers"])


def _day_ts(rng, counts):
    base = int(datetime(FIRST_DAY.year, FIRST_DAY.month, FIRST_DAY.day, tzinfo=timezone.utc).timestamp())
    day = np.repeat(np.arange(len(counts)), counts)
    return base + day * 86400 + rng.integers(0, 86400, day.size)


def _ts(seconds):
    return pa.array(seconds * 1_000_000, pa.int64()).cast(pa.timestamp("us", tz="UTC"))


def _pick(rng, prefix, n, k):
    return np.char.add(prefix, rng.integers(0, k, n).astype(str))


def landing(plan, seed):
    rng = np.random.default_rng([seed, 1])
    n = sum(plan["daily_log"])
    bd = _day_ts(rng, plan["daily_log"])
    ids = np.arange(n)
    daily = pa.table({
        "ID": ids,
        "backup_date": _ts(bd),
        "server": _pick(rng, "srv", n, 64),
        "database": _pick(rng, "db_", n, 200),
        "size": rng.integers(0, 10_000_000, n) / 100.0,
        "state": np.array(["OK", "FAILED", "RUNNING", "PARTIAL"])[rng.integers(0, 4, n)],
        "last_update": _ts(bd + 60 * rng.integers(0, 60, n)),
        "fileName": np.char.add(np.char.add("/backups/", ids.astype(str)), ".bak"),
    })
    n = sum(plan["backup_log"])
    bd = _day_ts(rng, plan["backup_log"])
    ids = np.arange(n)
    backup = pa.table({
        "id": ids,
        "backup_date": _ts(bd),
        "server": _pick(rng, "srv", n, 64),
        "size": rng.integers(0, 10_000_000, n) / 100.0,
        "filepath": np.char.add(np.char.add(_pick(rng, "/mnt/backup/", n, 1000), "/"), ids.astype(str)),
        "last_update": _ts(bd + 60 * rng.integers(0, 60, n)),
    })
    n = plan["servers_temp"]
    window_start = int(datetime(FIRST_DAY.year, FIRST_DAY.month, FIRST_DAY.day,
                                tzinfo=timezone.utc).timestamp()) + plan["hist_days"] * 86400
    servers = pa.table({
        "server": np.char.add("srv", np.arange(n).astype(str)),
        "ip": np.char.add(_pick(rng, "10.0.", n, 256), _pick(rng, ".", n, 256)),
        "os": np.array(["linux", "windows", "bsd"])[rng.integers(0, 3, n)],
        "cpu_pct": rng.integers(0, 10000, n) / 100.0,
        "mem_pct": rng.integers(0, 10000, n) / 100.0,
        "checked_at": _ts(window_start - rng.integers(1, 86400, n)),
    })
    return {"daily_log": daily, "backup_log": backup, "servers_temp": servers}


def write_etl(seed, smoke, run_dir, jdbc):
    """Landing parquet (`<run>/landing/<table>.parquet/`) or Derby import CSVs
    (`<run>/derby_csv/<table>.csv`), plus `<run>/plan.json` and `<run>/registry.json`."""
    plan = etl_plan(seed, smoke)
    for table, data in landing(plan, seed).items():
        if jdbc:
            out = run_dir / "derby_csv"
            out.mkdir(parents=True, exist_ok=True)
            # Derby's import reads timestamps as `yyyy-mm-dd hh:mm:ss` wall clock (UTC JVM)
            cols = [c.cast(pa.timestamp("us")).cast(pa.string()) if pa.types.is_timestamp(c.type) else c
                    for c in data.columns]
            pacsv.write_csv(pa.table(cols, names=data.column_names), out / f"{table}.csv",
                            pacsv.WriteOptions(include_header=False))
        else:
            out = run_dir / "landing" / f"{table}.parquet"
            out.mkdir(parents=True, exist_ok=True)
            pq.write_table(data, out / "part-0.parquet", row_group_size=65536)
    (run_dir / "plan.json").write_text(json.dumps(plan))
    shutil.copy(REGISTRY, run_dir / "registry.json")
    return plan


def write_corpus(seed, smoke, corpus, run_dir):
    """`<run>/src/documents.parquet/` with seeded re-keyed doc_ids."""
    docs = pq.read_table(corpus)
    if smoke:
        docs = docs.filter(pa.compute.less(docs["doc_id"], SMOKE_DOCS))
    ids = np.sort(docs["doc_id"].to_numpy())
    perm = np.random.default_rng([seed, 2]).permutation(ids)
    new_id = perm[np.searchsorted(ids, docs["doc_id"].to_numpy())]
    docs = docs.set_column(docs.column_names.index("doc_id"), "doc_id", pa.array(new_id, pa.int64()))
    docs = docs.sort_by("doc_id")
    out = run_dir / "src" / "documents.parquet"
    out.mkdir(parents=True)
    pq.write_table(docs, out / "part-0.parquet")
