#!/usr/bin/env python3
"""Closed-loop benchmark of the CDC engine and the query catalog.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

One process, one Spark session at ``local[<cores>]`` and one client that
sends its next call only after the previous one returned.  The engine is
driven only through its public API and only sees the inputs generated here
from ``--seed``.  Every run checks the engine's outputs against the
repository's oracles (the pandas fold of the feed, and the DuckDB SQL of
each catalog query).

Workloads (see ``README.md`` for the layer -> metric map):

* ``ingest``: backfill a skewed, out-of-order, re-delivered, schema-evolving
  backlog into an empty table, several chunks per batch, changelog off;
  then turn the changelog on and serve: apply small locality chunks one
  commit each, and after every commit run a fixed read set (a point
  lookup, the changes of the last commit, a stats-pruned scan).
* ``catalog``: the headline catalog queries over seeded synthetic tables,
  each result fetched to the client and checked against DuckDB.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before
it is a JSON detail record (sample counts, per-operation medians, host
load) and the spans of a traced run are written under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "image_deid_etl_spark"

#: the catalog workload's queries: the headline set of ``bench.py``, copied
#: so that the workload stays fixed when that list changes
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "frontier_anti_join", "lww_latest_per_key", "running_total_per_user",
    "scrub_content_native", "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_winnowing", "knn_bruteforce_cosine",
    "knn_lsh_bucketed", "knn_lsh_multiprobe", "text_quality_scores",
    "media_binary_meta", "seq_packing",
]

# ingest workload shape
BACKLOG_EVENTS = 32_000
N_KEYS = 6_000
N_REPOS = 20
BACKLOG_CHUNKS = 8
BACKLOG_CHUNKS_PER_BATCH = 4
TRICKLE_EVENTS_PER_CHUNK = 400
TRICKLE_CHUNKS = 16
TRICKLE_KEYS = 2_000
LOOKUP_KEYS = 5
N_BUCKETS = 8
STATS_COLS = ["lang"]
SCAN_WHERE = {"lang": ("go", "java")}
#: setup steps that are repeated and reported as a median
SETUP_REPEATS = 3


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------- #
# host signals
# --------------------------------------------------------------------- #


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])


def _peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) of this process and all its descendants:
    the JVM and the Python workers it forked."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    mine, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in mine:
                mine.add(c)
                frontier.append(c)
    kb = 0
    for p in mine:
        try:
            with open(f"/proc/{p}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def _cpu_probe_s() -> float:
    """Seconds for a fixed amount of hashing: a slow host shows here."""
    buf = bytes(1 << 20)
    t0 = time.perf_counter()
    for _ in range(64):
        hashlib.sha256(buf).digest()
    return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _d, fs in os.walk(path) for f in fs
    )


# --------------------------------------------------------------------- #
# Spark session
# --------------------------------------------------------------------- #


def _start_session(work: str):
    """One session at local[<cores>], every scratch path inside ``work``."""
    from image_deid_etl_spark.session import build_session

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no JVM performance-data file in the system temp directory, for the
    # launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = build_session(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --------------------------------------------------------------------- #
# ingest workload
# --------------------------------------------------------------------- #


def _feed_schema_fields(with_license: bool):
    import pyarrow as pa

    fields = [
        ("seq", pa.int64()), ("op", pa.string()), ("repo", pa.string()),
        ("path", pa.string()), ("commit", pa.string()), ("lang", pa.string()),
        ("content", pa.string()), ("ts", pa.timestamp("us")),
    ]
    if with_license:
        fields.append(("license", pa.string()))
    return pa.schema(fields)


def _write_chunk(path: str, chunk) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    has_lic = "license" in chunk.columns and chunk["license"].notna().any()
    if "license" in chunk.columns and not has_lic:
        chunk = chunk.drop(columns=["license"])
    pq.write_table(
        pa.Table.from_pandas(chunk, schema=_feed_schema_fields(has_lic), preserve_index=False),
        path,
    )


def _split(events, n: int) -> list:
    """Delivery chunks in arrival order, as the engine's feed writer cuts them."""
    import numpy as np

    return [
        events.iloc[idx].reset_index(drop=True)
        for idx in np.array_split(np.arange(len(events)), n)
    ]


def _write_chunks(out_dir: str, prefix: str, chunks) -> list[str]:
    os.makedirs(out_dir)
    paths = []
    for i, chunk in enumerate(chunks):
        paths.append(os.path.join(out_dir, f"{prefix}-{i:05d}.parquet"))
        _write_chunk(paths[-1], chunk)
    return paths


class IngestInputs:
    """The seeded feeds as delivery chunks: the backlog, and the trickle
    chunks of a locality feed over new keys whose sequence numbers follow
    the backlog's."""

    def __init__(self, seed: int, work: str):
        from image_deid_etl_spark.cdc.feed import FeedSpec, make_events

        backlog_spec = FeedSpec(
            n_events=BACKLOG_EVENTS, n_keys=N_KEYS, n_repos=N_REPOS, seed=seed,
            skew=0.5, dup_frac=0.05, evolve_at=BACKLOG_EVENTS // 2,
            n_files=BACKLOG_CHUNKS,
        )
        self.backlog_events = make_events(backlog_spec)
        self.backlog_dir = os.path.join(work, "backlog")
        self.backlog_files = _write_chunks(
            self.backlog_dir, "feed", _split(self.backlog_events, BACKLOG_CHUNKS)
        )
        trickle_spec = FeedSpec(
            n_events=TRICKLE_EVENTS_PER_CHUNK * TRICKLE_CHUNKS, n_keys=TRICKLE_KEYS,
            n_repos=N_REPOS, seed=seed, skew=0.5, dup_frac=0.02,
            locality=0.05, n_files=TRICKLE_CHUNKS,
        )
        tr = make_events(trickle_spec)
        # the steady state onboards new keys and updates recent ones: the
        # trickle's keys are new paths, its sequence numbers follow the
        # backlog's
        tr["path"] = "live/" + tr["path"]
        tr["seq"] += BACKLOG_EVENTS
        tr["license"] = "mit"
        self.trickle_chunks = _split(tr, TRICKLE_CHUNKS)
        self.trickle_files = _write_chunks(
            os.path.join(work, "trickle"), "chunk", self.trickle_chunks
        )


class FoldState:
    """Incremental last-writer-wins fold of the chunks applied so far,
    used to check point lookups and pruned scans between commits."""

    def __init__(self):
        self.rows: dict[tuple[str, str], tuple[int, str, object, object]] = {}

    def apply(self, events) -> None:
        ev = events.drop_duplicates(subset=["seq"]).sort_values("seq", kind="stable")
        for seq, op, repo, path, lang, content in zip(
            ev["seq"], ev["op"], ev["repo"], ev["path"], ev["lang"], ev["content"]
        ):
            k = (repo, path)
            cur = self.rows.get(k)
            if cur is None or seq > cur[0]:
                self.rows[k] = (int(seq), op, lang, content)

    def live(self, key):
        r = self.rows.get(key)
        return None if r is None or r[1] == "delete" else r


def _content_sha(content) -> str | None:
    return hashlib.sha256(content.encode("utf-8")).hexdigest() if isinstance(content, str) else None


def _expected_lookup(fold: FoldState, keys) -> dict:
    import pandas as pd

    from image_deid_etl_spark.cdc.scrub import scrub_series

    live = {k: fold.live(k) for k in keys}
    live = {k: v for k, v in live.items() if v is not None}
    scrubbed = scrub_series(pd.Series([v[3] for v in live.values()], dtype="string"))
    return {
        k: (v[0], _content_sha(None if pd.isna(s) else str(s)))
        for (k, v), s in zip(live.items(), scrubbed)
    }


def _table_state(spark, table):
    """(repo, path, sha256) of the live table, sorted like ``sha256_state``."""
    from pyspark.sql import functions as F

    pdf = (
        table.read(spark)
        .select("repo", "path", F.sha2(F.col("content"), 256).alias("sha256"))
        .toPandas()
    )
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def _state_matches(spark, table, events) -> bool:
    from image_deid_etl_spark.cdc.oracle import fold_feed, sha256_state

    exp = sha256_state(fold_feed(events))
    got = _table_state(spark, table)
    if len(exp) != len(got):
        return False
    return (
        list(exp["repo"]) == list(got["repo"])
        and list(exp["path"]) == list(got["path"])
        and [x if isinstance(x, str) else None for x in exp["sha256"]]
        == [x if isinstance(x, str) else None for x in got["sha256"]]
    )


def _changes_digest(df) -> list[tuple]:
    from pyspark.sql import functions as F

    cols = ["repo", "path", "commit_seq", "_change_type"]
    rows = df.select(*cols, F.sha2(F.col("content"), 256).alias("sha")).collect()
    return sorted(tuple(r) for r in rows)


def _merge_lineage(table, after_sid: int) -> list[dict]:
    return [
        e for e in table.lineage()
        if e["snapshot_id"] > after_sid and "match_sec" in e
    ]


def run_ingest_workload(spark, args, work, rec, tracers):
    import pandas as pd

    from image_deid_etl_spark.cdc import engine
    from image_deid_etl_spark.cdc.feed import FeedSpec, write_feed
    from image_deid_etl_spark.lake.table import SnapshotTable

    # -- set-up: inputs (repeated), then one JVM warm-up pass over the
    # paths the timed part takes, on a small feed: a bootstrap with the
    # changelog off, one merge with changelog capture, the read set
    inputs = None
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        inputs = IngestInputs(args.seed, os.path.join(work, f"inputs-{i}"))
        rec.setup_repeated.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_feed = os.path.join(work, "warm-feed")
    warm_files = write_feed(
        warm_feed, FeedSpec(n_events=3000, n_keys=600, n_files=3, seed=args.seed + 7)
    )
    last = warm_files[-1] + ".held"
    os.replace(warm_files[-1], last)
    warm_root = os.path.join(work, "warm-table")
    engine.run_ingest(
        spark, warm_root, warm_feed, max_files_per_batch=2, n_buckets=N_BUCKETS,
        stats_cols=STATS_COLS,
    )
    warm = SnapshotTable(warm_root)
    warm.set_properties({"changelog": True}, spark=spark)
    os.replace(last, warm_files[-1])
    engine.run_ingest(spark, warm_root, warm_feed, max_files_per_batch=1)
    warm = SnapshotTable(warm_root)
    warm.lookup_keys(spark, [("org0/repo0", "src/d0/f0.py")]).collect()
    warm.read_changes(spark, warm.snapshot_id - 1).count()
    warm.read(spark, where=SCAN_WHERE).count()
    rec.setup_parts["warmup_s"] = time.perf_counter() - t0

    bf, serve = tracers
    root = os.path.join(work, "table")
    deadline = time.perf_counter() + args.seconds

    # -- backfill: drain the backlog into an empty table ------------------
    rec.attempted += 1
    with bf.installed(False) if bf else nullcontext():
        t0 = time.perf_counter()
        stats = engine.run_ingest(
            spark, root, inputs.backlog_dir,
            max_files_per_batch=BACKLOG_CHUNKS_PER_BATCH, n_buckets=N_BUCKETS,
            changelog=False, stats_cols=STATS_COLS,
        )
        drain_s = time.perf_counter() - t0
    rec.samples["backfill_drain_s"].append(drain_s)
    rec.samples["backfill_batch_s"].extend(stats.batch_secs)
    rec.samples["backfill_events"].append(stats.events)
    table = SnapshotTable(root)
    backlog_bytes = sum(os.path.getsize(p) for p in inputs.backlog_files)
    rec.layer["backfill.lake.table.write_amp"] = _dir_bytes(root) / backlog_bytes
    lin = _merge_lineage(table, 0)
    bf_match_s = sum(e["match_sec"] for e in lin)
    bf_write_s = sum(e["write_sec"] for e in lin)
    rec.layer["backfill.cdc.scrub.rows"] = sum(
        p["rows_written"] for e in lin for p in e["partitions"]
    )

    # -- serve: changelog on, one commit per chunk, read set after each ---
    table.set_properties({"changelog": True}, spark=spark)
    fold = FoldState()
    fold.apply(inputs.backlog_events)
    applied = [inputs.backlog_events]
    bytes_before = _dir_bytes(root)
    feed_bytes = 0
    traced_cycles, plain_cycles = [], []
    lookup_files, scan_files, unresolved = [], [], []
    first_sid = table.snapshot_id
    traced_sids: set[int] = set()
    # a traced run needs a traced and an untraced cycle
    min_cycles = 1 if serve is None else 2
    for j, (path, chunk) in enumerate(zip(inputs.trickle_files, inputs.trickle_chunks)):
        if j >= min_cycles and time.perf_counter() >= deadline:
            break
        # the producer delivers the next chunk
        shutil.copy(path, os.path.join(inputs.backlog_dir, f"feed-{BACKLOG_CHUNKS + j:05d}.parquet"))
        feed_bytes += os.path.getsize(path)
        # a traced run alternates traced and untraced cycles; the seed
        # decides which comes first
        traced = serve is not None and (j + args.seed) % 2 == 0
        rec.attempted += 1
        sid0 = table.snapshot_id
        with serve.installed(False) if traced else nullcontext():
            c0 = time.perf_counter()
            engine.run_ingest(spark, root, inputs.backlog_dir, max_files_per_batch=1)
            commit_s = time.perf_counter() - c0
            table = SnapshotTable(root)
            sid = table.snapshot_id
            fold.apply(chunk)
            applied.append(chunk)
            keys = list(dict.fromkeys(zip(chunk["repo"], chunk["path"])))[:LOOKUP_KEYS]
            r0 = time.perf_counter()
            lk = table.lookup_keys(spark, keys)
            rows = lk.collect()
            lookup_s = time.perf_counter() - r0
            r0 = time.perf_counter()
            n_changes = table.read_changes(spark, sid0).count()
            changes_s = time.perf_counter() - r0
            r0 = time.perf_counter()
            scan = table.read(spark, where=SCAN_WHERE)
            n_scan = scan.count()
            scan_s = time.perf_counter() - r0
        cycle_s = commit_s + lookup_s + changes_s + scan_s
        (traced_cycles if traced else plain_cycles).append(cycle_s)
        for name, v in (
            ("commit_s", commit_s), ("lookup_s", lookup_s),
            ("changes_s", changes_s), ("scan_s", scan_s), ("serve_cycle_s", cycle_s),
        ):
            rec.samples[name].append(v)
        rec.samples["serve_events"].append(len(chunk))
        if traced:
            traced_sids.update(range(sid0 + 1, sid + 1))
            lookup_files.append(len(lk.inputFiles()) / max(1, len(keys)))
            scan_files.append(len(scan.inputFiles()))
            unresolved.append(len(table.unresolved_buckets()))
        # checks, outside the timed calls
        exp = _expected_lookup(fold, keys)
        got = {
            (r["repo"], r["path"]): (r["commit_seq"], _content_sha(r["content"])) for r in rows
        }
        if got != exp:
            rec.fail(f"lookup after commit {sid} differs from the fold")
        lo, hi = SCAN_WHERE["lang"]
        n_exp = sum(
            1 for v in fold.rows.values()
            if v[1] != "delete" and isinstance(v[2], str) and lo <= v[2] <= hi
        )
        if n_scan != n_exp:
            rec.fail(f"pruned scan after commit {sid}: {n_scan} rows, fold has {n_exp}")
        if n_changes == 0:
            rec.fail(f"read_changes of commit {sid} is empty")

    # once per run: the changelog fold equals the snapshot diff
    window = (first_sid, table.snapshot_id)
    if _changes_digest(table.read_changes(spark, *window)) != _changes_digest(
        table.read_changes(spark, *window, use_changelog=False)
    ):
        rec.fail("read_changes with the changelog differs from the snapshot diff")
    if not _state_matches(spark, table, pd.concat(applied, ignore_index=True)):
        rec.fail("final state differs from the fold of all applied chunks")

    rec.e2e["records_per_s"] = stats.events / drain_s
    rec.e2e["op_s_p50"] = _median(rec.samples["serve_cycle_s"])
    rec.layer["serve.lake.table.write_amp"] = (_dir_bytes(root) - bytes_before) / feed_bytes
    if serve is not None:
        # shares of the traced part of the run: the drain and the traced cycles
        base_s = drain_s + sum(traced_cycles)
        rec.layer["trace.base_s"] = base_s
        rec.layer["backfill.cdc.merge.match_share"] = bf_match_s / base_s
        rec.layer["backfill.cdc.merge.write_share"] = bf_write_s / base_s
        lin = [e for e in _merge_lineage(table, first_sid) if e["snapshot_id"] in traced_sids]
        rec.layer["serve.cdc.merge.match_share"] = sum(e["match_sec"] for e in lin) / base_s
        n = max(1, len(traced_cycles))
        per_commit = {
            "cdc.merge.files_replaced": sum(e["files_replaced"] for e in lin) / max(1, len(lin)),
            "cdc.merge.adaptive_append_frac": sum(bool(e["adaptive_append"]) for e in lin) / max(1, len(lin)),
            "cdc.engine.compactions": serve.calls("lake.table.compact") / n,
            "lake.table.lookup_files_per_key": _median(lookup_files),
            "lake.table.scan_files_listed": _median(scan_files),
            "lake.table.unresolved_buckets": _median(unresolved),
        }
        for k, v in per_commit.items():
            rec.layer[f"serve.{k}"] = v
        rec.layer["trace.overhead_s"] = _median(traced_cycles) - _median(plain_cycles)
        rec.span_shares("backfill", bf, base_s)
        rec.span_shares("serve", serve, base_s)


# --------------------------------------------------------------------- #
# catalog workload
# --------------------------------------------------------------------- #


def _cell(v) -> str:
    import datetime

    import numpy as np
    import pandas as pd

    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if v is None or (not isinstance(v, (str, bytes, bytearray)) and pd.isna(v)):
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        return format(float(v), ".9g")
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def result_digest(pdf) -> tuple[int, str]:
    """Row count and an order-independent hash of a result frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode("utf-8"))
    return len(rows), h.hexdigest()


def run_catalog_workload(spark, args, work, rec, tracers):
    import re
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    import catalog_data
    from image_deid_etl_spark.plans import ORACLES
    from image_deid_etl_spark.plans import queries as plans

    # -- set-up: warm every query once on a tenth-size copy of the
    # tables (4 client threads), then the inputs (repeated) ---------------
    warm_data = os.path.join(work, "catalog-warm")
    catalog_data.write_tables(warm_data, catalog_data.make_tables(args.seed + 7, scale=0.1))
    t0 = time.perf_counter()

    def warm(name):
        plans.QUERIES[name](spark, warm_data).write.format("noop").mode("overwrite").save()

    with ThreadPoolExecutor(max_workers=4) as ex:
        for fut in [ex.submit(warm, q) for q in HEADLINE]:
            fut.result()
    rec.setup_parts["warmup_s"] = time.perf_counter() - t0
    tables = data = None
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        tables = catalog_data.make_tables(args.seed)
        data = os.path.join(work, f"catalog-{i}")
        catalog_data.write_tables(data, tables)
        rec.setup_repeated.append(time.perf_counter() - t0)

    # source rows one pass reads: the rows of every table each query names
    n_rows = {t: len(df) for t, df in tables.items()}
    pass_rows = sum(
        n for q in HEADLINE for t, n in n_rows.items()
        if re.search(rf"\b{t}\b", ORACLES[q])
    )

    (tracer,) = tracers
    lat: dict[str, list[float]] = {q: [] for q in HEADLINE}
    traced_lat: dict[str, list[float]] = {q: [] for q in HEADLINE}
    first: dict[str, object] = {}
    deadline = time.perf_counter() + args.seconds
    min_passes = 2 if tracer is not None else 1
    n_pass = 0
    while n_pass < min_passes or time.perf_counter() < deadline:
        for i, q in enumerate(HEADLINE):
            if n_pass >= min_passes and time.perf_counter() >= deadline:
                break
            # a traced run traces every other query, the others in the next pass
            traced = tracer is not None and (i + n_pass) % 2 == 0
            rec.attempted += 1
            with tracer.installed(True) if traced else nullcontext():
                t0 = time.perf_counter()
                try:
                    pdf = plans.QUERIES[q](spark, data).toPandas()
                except Exception as exc:  # a failed query is a failed op
                    rec.fail(f"{q}: {type(exc).__name__}: {exc}")
                    continue
                dt = time.perf_counter() - t0
            (traced_lat if traced else lat)[q].append(dt)
            rec.samples["query_s"].append(dt)
            first.setdefault(q, pdf)
        n_pass += 1

    # -- oracle check: DuckDB over the same parquet ------------------------
    con = duckdb.connect()
    try:
        for t in catalog_data.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for q in HEADLINE:
            if q not in first:
                continue
            exp = con.sql(ORACLES[q]).df()
            if result_digest(first[q]) != result_digest(exp):
                rec.fail(f"{q}: result differs from the DuckDB oracle")
    finally:
        con.close()

    med = {q: _median(lat[q] or traced_lat[q]) for q in HEADLINE}
    pass_s = sum(med.values())
    rec.samples["catalog_pass_s"].append(pass_s)
    rec.e2e["records_per_s"] = pass_rows / pass_s
    # the client's operation is a pass: one median over seventeen
    # different queries jumps between neighbours from run to run
    rec.e2e["op_s_p50"] = pass_s
    if tracer is not None:
        # shares of the traced queries' time
        base_s = sum(sum(v) for v in traced_lat.values())
        rec.layer["trace.base_s"] = base_s
        for q in HEADLINE:
            rec.layer[f"plans.queries.{q}_share"] = sum(traced_lat[q]) / base_s
            rec.layer[f"plans.queries.{q}_rows"] = len(first[q]) if q in first else 0
        both = [q for q in HEADLINE if lat[q] and traced_lat[q]]
        rec.layer["trace.overhead_s"] = sum(
            _median(traced_lat[q]) - _median(lat[q]) for q in both
        )
        rec.span_shares("catalog", tracer, base_s)


# --------------------------------------------------------------------- #
# metrics and the main loop
# --------------------------------------------------------------------- #


#: layers whose self-time share a traced ingest run reports per phase
LAYERS = ["cdc.feed", "cdc.engine", "cdc.merge", "lake.table"]
#: wrapped calls whose own self-time share is reported per phase
SPAN_METRICS = {
    "backfill": [
        "cdc.feed.read_feed_files", "cdc.merge.merge_into",
        "lake.table.write_snapshot_files",
    ],
    "serve": [
        "cdc.engine.compute_batch_stats", "cdc.engine.run_maintenance",
        "cdc.engine.materialize_new_changelogs", "cdc.merge.merge_into",
        "lake.table.write_snapshot_files", "lake.table.build_blooms",
        "lake.table.write_changelog_rows", "lake.table.commit_snapshot",
        "lake.table.lookup_keys", "lake.table.read_changes", "lake.table.read",
        "lake.table.scan_files",
    ],
}
OPERATOR_LAYERS = [
    "operators.dedup", "operators.similarity", "operators.text",
    "operators.multimodal", "operators.relational", "operators.scale",
]


def per_layer_names() -> list[str]:
    names = []
    for phase in ("backfill", "serve"):
        names += [f"{phase}.{layer}.self_share" for layer in LAYERS]
        names += [f"{phase}.{s}_share" for s in SPAN_METRICS[phase]]
    names += [
        "backfill.cdc.merge.match_share", "backfill.cdc.merge.write_share",
        "backfill.cdc.scrub.rows", "backfill.lake.table.write_amp",
        "serve.cdc.merge.match_share", "serve.cdc.merge.files_replaced",
        "serve.cdc.merge.adaptive_append_frac", "serve.cdc.engine.compactions",
        "serve.lake.table.lookup_files_per_key", "serve.lake.table.scan_files_listed",
        "serve.lake.table.unresolved_buckets", "serve.lake.table.write_amp",
        "catalog.plans.queries.self_share",
    ]
    names += [f"catalog.{layer}.self_share" for layer in OPERATOR_LAYERS]
    names += [f"plans.queries.{q}_share" for q in HEADLINE]
    names += [f"plans.queries.{q}_rows" for q in HEADLINE]
    names += ["trace.base_s", "trace.overhead_s"]
    return names


def _layer_of(span: str) -> str:
    parts = span.split(".")
    return ".".join(parts[:2])


class Record:
    def __init__(self):
        from collections import defaultdict

        self.samples: dict[str, list[float]] = defaultdict(list)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.self_s: dict[str, float] = {}
        self.setup_parts: dict[str, float] = {}
        self.setup_repeated: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"perfbench: check failed: {msg}", file=sys.stderr)

    def span_shares(self, phase: str, tracer, base_s: float) -> None:
        """Self time per layer and per named span as a share of
        ``base_s``, the wall time of the run's traced operations; the
        seconds themselves go to the detail record. Shares keep a layer
        that never runs in a workload at 0 without reporting a time."""
        self_t = tracer.self_times()
        by_layer: dict[str, float] = {}
        for name, v in self_t.items():
            by_layer[_layer_of(name)] = by_layer.get(_layer_of(name), 0.0) + v
        for layer, v in by_layer.items():
            self.layer[f"{phase}.{layer}.self_share"] = v / base_s
            self.self_s[f"{phase}.{layer}"] = v
        for name in SPAN_METRICS.get(phase, []):
            self.layer[f"{phase}.{name}_share"] = self_t.get(name, 0.0) / base_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package next to perfbench/; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every temporary file of this process, the JVM and its workers stays
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    from spans import Tracer

    rec = Record()
    load0, probe0 = _loadavg(), _cpu_probe_s()
    steal0, tot0 = _cpu_ticks()
    spark = proc = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(work)
        proc = getattr(type(spark.sparkContext)._gateway, "proc", None)
        rec.setup_parts["session_s"] = time.perf_counter() - t0
        if args.workload == "ingest":
            tracers = (Tracer(), Tracer()) if args.trace else (None, None)
            run_ingest_workload(spark, args, work, rec, tracers)
        else:
            tracers = (Tracer(),) if args.trace else (None,)
            run_catalog_workload(spark, args, work, rec, tracers)
        rec.e2e["setup_s"] = sum(rec.setup_parts.values()) + _median(rec.setup_repeated)
        rec.e2e["peak_rss_mb"] = _peak_rss_mb()
        if args.trace:
            out = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out, exist_ok=True)
            for i, tr in enumerate(t for t in tracers if t is not None):
                tr.dump(os.path.join(out, f"{args.workload}-seed{args.seed}-{i}.json"))
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            if proc is not None:
                # the JVM exits when its stdin closes; its Python workers follow
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            shutil.rmtree(work, ignore_errors=True)

    steal1, tot1 = _cpu_ticks()
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loadavg_start": load0,
        "loadavg_end": _loadavg(),
        "steal_frac": (steal1 - steal0) / max(1, tot1 - tot0),
        "cpu_probe_s": [probe0, _cpu_probe_s()],
        "error_rate": rec.failed / max(1, rec.attempted),
        "errors": rec.errors[:10],
        "setup_parts_s": rec.setup_parts,
        "setup_repeated_s": rec.setup_repeated,
        "medians": {k: _median(v) for k, v in rec.samples.items()},
        "samples": {k: len(v) for k, v in rec.samples.items()},
        "e2e": rec.e2e,
        "layer_self_s": rec.self_s,
    }
    # a percentile only where at least ten samples lie beyond it
    for k, v in rec.samples.items():
        if len(v) >= 100:
            detail["medians"][f"{k}_p90"] = statistics.quantiles(v, n=10)[-1]
    print(json.dumps(detail))

    if args.trace:
        metrics = {n: {"value": float(rec.layer.get(n, 0.0)), "unit": _unit(n)} for n in per_layer_names()}
    else:
        metrics = {n: {"value": float(rec.e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": max(1, rec.attempted),
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0


E2E_UNITS = {"setup_s": "s", "records_per_s": "1/s", "op_s_p50": "s", "peak_rss_mb": "MB"}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_share", "_frac", "write_amp")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
