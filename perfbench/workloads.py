"""The workloads. Each returns its end-to-end numbers, its per-layer
numbers and a detail record; ``run.py`` turns them into the result line.

Both workloads report the same end-to-end metric names; what the bulk step
and the operation are differs by workload (see ``METRICS.md``):

=============  ================================  ==============================
workload       bulk step (``bulk_s``)            operation (``op_p50_ms``)
=============  ================================  ==============================
ingest_lookup  sampled ingest, framing uncached  lookup on the sampled layout
library        7 queries, fragment cache cold    7 queries, fragment cache warm
=============  ================================  ==============================
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import numpy as np

import prepare
from spans import Tracer

# sizes per scale: the smoke test runs "tiny"
SIZES = {
    "full": {
        "ingest_rows": 500_000,
        "warmup_rows": 300_000,
        "reps": 5,
        "warmup_lookups": 40,
        "lookup_mix": (200, 40, 20),
        "library_sf": 0.01,
        "warm_passes": 3,
    },
    "tiny": {
        "ingest_rows": 20_000,
        "warmup_rows": 5_000,
        "reps": 1,
        "warmup_lookups": 1,
        "lookup_mix": (4, 2, 1),
        "library_sf": 0.001,
        "warm_passes": 1,
    },
}
WARMUP_SEED = 0  # the warm-up snapshot is the same in every run
LIBRARY_DATA_SEED = 42  # the fixture tables are fixed; the run seed orders the queries

# one query from each operator family, including the consumers of the
# shared fragments (utxos view, trade edges, MinHash bands, embedding LSH);
# more do not fit the run budget, since a fresh session's first pass is
# dominated by JIT warm-up
LIBRARY_QUERIES = {
    "relational": ["q1_pricing_summary"],
    "utxo_queries": ["q_utxo_balance_by_script"],
    "graph": ["q_graph_bfs"],
    "dedup": ["q_dedup_minhash_lsh"],
    "text": ["q_text_unigram_soft_em"],
    "events": ["q_events_asof_join"],
    "similarity": ["q_sim_ivf_topk"],
}
FAMILY_OF = {q: fam for fam, qs in LIBRARY_QUERIES.items() for q in qs}
FAMILY_METRICS = ("wall_s", "jobs", "stages", "task_s", "shuffle_bytes", "spill_bytes", "gc_ms", "driver_s")


def percentile(values: list, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    return float(np.percentile(np.asarray(values, dtype=float), q))


class Run:
    """State shared by one benchmark run."""

    def __init__(self, root, args, dirs, session, tracer):
        self.root = root
        self.args = args
        self.sizes = SIZES[args.scale]
        self.dirs = dirs
        self.session = session
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.corrupt_pending = args.corrupt
        self.footer_ranges: list[tuple[bytes, bytes]] = []  # of the last checked output
        self.t_start = time.perf_counter()

    @property
    def spark(self):
        return self.session.spark

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)
        return ok

    def corrupt_once(self) -> bool:
        """True once per ``--corrupt`` run: damage the next checked output."""
        if self.corrupt_pending:
            self.corrupt_pending = False
            return True
        return False

    def start_session(self) -> float:
        """``setup_s``: the session's cold start; the workload runs on it."""
        setup = self.session.cold_start()
        self.tracer.sc = self.spark.sparkContext
        return setup


# ---------------------------------------------------------------------------
# UTXO inputs and output checks
# ---------------------------------------------------------------------------


def snapshot(run: Run, rows: int, seed: int) -> dict:
    """The generated snapshot for (rows, seed): dump path, content digest
    and lookup targets (see ``prepare.py``)."""
    return prepare.cached(run.dirs.cache, "snapshot", rows, seed, *run.sizes["lookup_mix"])


def check_parquet(run: Run, out: str, meta: dict, returned_rows: int) -> bool:
    """Row count and order-independent content digest of a converted
    output against the generator's rows (computed by DuckDB in a child
    process, not by Spark). Keeps the output's footer script ranges for
    the read-path metrics."""
    if run.corrupt_once():
        os.remove(parquet_files(out)[0])
    info = prepare.inspect(out)
    run.footer_ranges = [(bytes.fromhex(lo), bytes.fromhex(hi)) for lo, hi in info["ranges"]]
    return returned_rows == meta["rows"] and info["digest"] == meta["digest"]


def parquet_files(out: str) -> list[str]:
    return sorted(os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet"))


def scan_output_rows(df) -> int | None:
    """``numOutputRows`` of the file scan in a collected DataFrame's plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if "AdaptiveSparkPlan" in plan.nodeName():
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if "Scan" in node.nodeName():
            m = node.metrics().get("numOutputRows")
            if m.isDefined():
                return int(m.get().value())
    return None


def run_lookups(run: Run, out: str, targets: list, *, deadline: float | None, trace_every: int = 0):
    """Closed-loop point lookups, one client: each lookup is sent when the
    previous one has returned. In traced runs every ``trace_every``-th
    lookup is traced. Returns per-lookup records."""
    from pyspark.sql import functions as F

    try:
        df = run.spark.read.parquet(out)
    except Exception:  # no readable output: every lookup below fails
        df = None
    ranges = run.footer_ranges
    recs = []
    i = 0
    while i < len(targets) and (i < 10 or deadline is None or time.perf_counter() < deadline):
        kind, script_hex, expected = targets[i]
        script = bytes.fromhex(script_hex)
        traced = run.tracer.enabled and trace_every > 0 and i % trace_every == 1
        tracer = run.tracer if traced else _OFF
        err = ""
        with tracer.span("lookup", "read_path", kind=kind) as sp:
            try:
                q = df.filter(F.col("script") == F.lit(script))
                rows = q.collect()
            except Exception as exc:  # e.g. a damaged output
                rows, traced, err = [], False, f" ({type(exc).__name__})"
        ok = not err and len(rows) == expected and all(bytes(r.script) == script for r in rows)
        run.op(ok, f"lookup {kind} {script_hex[:16]}: {len(rows)} rows, expected {expected}{err}")
        rec = {"kind": kind, "ms": sp["dur_s"] * 1000, "hits": len(rows), "traced": traced}
        if traced:
            scanned = scan_output_rows(q)
            rec.update(
                files_read=sum(lo <= script <= hi for lo, hi in ranges),
                files_total=len(ranges),
                rows_scanned=scanned if scanned is not None else 0,
                jobs=sp["spark"]["jobs"],
            )
        recs.append(rec)
        i += 1
    return recs


_OFF = Tracer(False)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def lookup_layer_metrics(recs: list) -> dict:
    tr = [r for r in recs if r["traced"]]
    return {
        "files_read": _median([r["files_read"] for r in tr]),
        "files_total": _median([r["files_total"] for r in tr]),
        "rows_scanned_per_row_returned": _median([r["rows_scanned"] / max(1, r["hits"]) for r in tr]),
        "jobs_per_lookup": _median([r["jobs"] for r in tr]),
    }


def convert_layer_metrics(spans: list, rows: int) -> dict:
    """Framing, decode and sort/write numbers from the traced spans of
    each convert repetition (medians over repetitions)."""
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    frame = [s["dur_s"] for s in by.get("index_utxo_dump", [])]
    dec = by.get("read_utxo_dump", [])
    conv = by.get("convert_utxo_dump_to_parquet", [])
    m = {
        "frame_s": _median(frame),
        "frame_rows_per_s": rows / _median(frame) if frame else 0.0,
        "decode_s": _median([s["dur_s"] for s in dec]),
        "decode_task_s": _median([s["spark"]["task_s"] for s in dec]),
        "decode_tasks": _median([s["spark"]["tasks"] for s in dec]),
    }
    write_stages = [[st for st in s["spark"]["stage_list"] if st["output_bytes"] > 0] for s in conv]
    exch_stages = [[st for st in s["spark"]["stage_list"] if st["shuffle_write_bytes"] > 0] for s in conv]
    m["write_task_s"] = _median([sum(st["task_s"] for st in ws) for ws in write_stages])
    m["write_spill_bytes"] = _median([sum(st["spill_bytes"] + st["disk_spill_bytes"] for st in ws) for ws in write_stages])
    m["write_gc_ms"] = _median([sum(st["gc_ms"] for st in ws) for ws in write_stages])
    m["files_written"] = _median([s.get("files_written", 0) for s in conv])
    m["parquet_bytes_per_row"] = _median([s.get("bytes_written", 0) / rows for s in conv])
    m["shuffle_write_bytes"] = _median([sum(st["shuffle_write_bytes"] for st in es) for es in exch_stages])
    # the exchange's map stage also runs the full decode: take the decode
    # task time of the noop pass off it
    m["exchange_task_s"] = _median(
        [max(0.0, sum(st["task_s"] for st in es) - m["decode_task_s"]) for es in exch_stages]
    )
    # sample: from the convert's start to the first exchange stage,
    # less the framing pass that opens every convert
    samples = []
    for s, es in zip(conv, exch_stages):
        subs = [st["submitted_ms"] for st in es if st["submitted_ms"] is not None]
        if subs:
            samples.append(max(0.0, (min(subs) - s["start"] * 1000) / 1000 - m["frame_s"]))
    m["sample_s"] = _median(samples)
    # what is left of the ingest: the shuffle exchange, the sort and the
    # parquet write
    ingest = _median([s["dur_s"] for s in conv])
    m["sort_write_s"] = max(0.0, ingest - m["frame_s"] - m["sample_s"] - m["decode_s"]) if conv else 0.0
    return m


def _out_stats(out: str) -> tuple[int, int]:
    files = parquet_files(out)
    return len(files), sum(os.path.getsize(f) for f in files)


def _convert_rep(run: Run, meta: dict, out: str, traced: bool, **kw) -> float:
    """One timed convert; with ``traced``, preceded by separately traced
    framing and decode passes over the same snapshot."""
    from utxo_to_parquet_spark.sources import convert_utxo_dump_to_parquet, index_utxo_dump, read_utxo_dump

    dump = meta["dump"]
    tracer = run.tracer if traced else _OFF
    sidecar = dump + ".splits.json"
    if traced:
        with tracer.span("index_utxo_dump", "sources.utxo_dump.framing"):
            index_utxo_dump(dump, use_cache=False)
        index_utxo_dump(dump)  # writes the sidecar the decode pass reuses
        with tracer.span("read_utxo_dump", "sources.utxo_dump.decode"):
            read_utxo_dump(run.spark, dump).write.format("noop").mode("overwrite").save()
    if os.path.exists(sidecar):
        os.remove(sidecar)  # every timed convert pays its framing pass
    shutil.rmtree(out, ignore_errors=True)
    with tracer.span("convert_utxo_dump_to_parquet", "sources.convert", **kw) as sp:
        n = convert_utxo_dump_to_parquet(run.spark, dump, out, **kw)
    sp["files_written"], sp["bytes_written"] = _out_stats(out)
    run.op(check_parquet(run, out, meta, n), f"convert {kw}: output differs from the generated rows")
    return sp["dur_s"]


def _warmup_convert(run: Run, **kw) -> None:
    """An untimed convert of a small fixed snapshot, then lookups on its
    output. The JVM compiles the convert and read paths over the first
    converts and the first hundred or so lookups, and both keep speeding
    up for a while after; timing on the steep part of that curve would
    turn small shifts in host speed into large shifts in the numbers."""
    meta = snapshot(run, run.sizes["warmup_rows"], WARMUP_SEED)
    out = os.path.join(run.dirs.out, "warmup")
    _convert_rep(run, meta, out, False, **kw)
    run_lookups(run, out, meta["lookups"][: run.sizes["warmup_lookups"]], deadline=None)


def _e2e(setup: float, bulk: float, ms: list) -> dict:
    return {"setup_s": setup, "bulk_s": bulk, "op_p50_ms": percentile(ms, 50)}


def _common_detail(ms: list) -> dict:
    return {"ops": len(ms), "op_p95_ms": percentile(ms, 95)}


def workload_ingest_lookup(run: Run) -> tuple[dict, dict, dict]:
    sz = run.sizes
    setup = run.start_session()
    # the run's snapshot is generated while the session warms up on the
    # fixed one; neither is timed
    with prepare.building(run.dirs.cache, "snapshot", sz["ingest_rows"], run.args.seed, *sz["lookup_mix"]) as pending:
        _warmup_convert(run, global_sort="sampled")
        meta = pending()
    out = os.path.join(run.dirs.out, "converted")
    # the first convert of a new snapshot is still slower than the rest
    # (by ~20% on the reference host): it is untimed too
    _convert_rep(run, meta, out, False, global_sort="sampled")
    # each ingest is followed by its share of the lookup window, so both
    # sample the whole run rather than one stretch of it. Traced runs add
    # one repetition and trace them in the order untraced, traced, traced,
    # untraced, so the same run measures the tracing overhead and a
    # warm-up trend cancels out.
    n_reps = sz["reps"] + (1 if run.tracer.enabled else 0)
    targets = meta["lookups"]
    times: dict[bool, list] = {True: [], False: []}
    recs: list = []
    for i in range(n_reps):
        traced = run.tracer.enabled and i % 4 in (1, 2)
        times[traced].append(_convert_rep(run, meta, out, traced, global_sort="sampled"))
        deadline = time.perf_counter() + run.args.seconds / n_reps
        recs += run_lookups(run, out, targets[len(recs) :], deadline=deadline, trace_every=2)
    untraced = times[False] or times[True]
    point = [r for r in recs if r["kind"] != "hot"]
    hot = [r["ms"] for r in recs if r["kind"] == "hot"]
    ms = [r["ms"] for r in point if not r["traced"]] or [r["ms"] for r in point]
    nfiles, nbytes = _out_stats(out)
    e2e = _e2e(setup, statistics.median(untraced), ms)
    detail = {
        **_common_detail(ms),
        "rows": meta["rows"],
        "ingest_reps_s": untraced,
        "ingest_s": statistics.median(untraced),
        "parquet_bytes_per_row": nbytes / meta["rows"],
        "files_written": nfiles,
        "lookups": {k: sum(r["kind"] == k for r in recs) for k in ("selective", "absent", "hot")},
        "lookup_p50_ms": percentile([r["ms"] for r in point], 50),
        "lookup_p95_ms": percentile([r["ms"] for r in point], 95),
        "hot_lookup_ms": _median(hot),
    }
    layer = {}
    if run.tracer.enabled:
        layer = convert_layer_metrics([s for s in run.tracer.spans if "spark" in s and s["layer"] != "read_path"], meta["rows"])
        layer.update(lookup_layer_metrics(point))
        tr = [r["ms"] for r in point if r["traced"]]
        un = [r["ms"] for r in point if not r["traced"]]
        layer["trace_overhead_ms"] = _median(tr) - _median(un)
    return e2e, layer, detail


# ---------------------------------------------------------------------------
# library
# ---------------------------------------------------------------------------


def _run_pass(run: Run, queries, sf_dir, expected, table_hash, label: str, traced: bool) -> dict:
    from utxo_to_parquet_spark.operators import all_queries

    fns = all_queries()
    tracer = run.tracer if traced else _OFF
    times = {}
    for q in queries:
        try:
            with tracer.span(q, f"operators.{FAMILY_OF[q]}", family=FAMILY_OF[q], pass_=label) as sp:
                df = fns[q](run.spark, sf_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            if run.corrupt_once() and rows:
                rows = rows[:-1]
            got = list(table_hash(cols, rows))
            run.op(got == expected[q], f"{label} {q}: hash {got} != oracle {expected[q]}")
            times[q] = sp["dur_s"]
        except Exception as exc:  # a query that raises is a failed operation
            run.op(False, f"{label} {q}: {type(exc).__name__}: {str(exc)[:200]}")
    return times


def family_metrics(spans: list) -> dict:
    m = {f"{fam}.{k}": 0.0 for fam in LIBRARY_QUERIES for k in FAMILY_METRICS}
    for s in spans:
        st, fam = s["spark"], s["family"]
        m[f"{fam}.wall_s"] += s["dur_s"]
        m[f"{fam}.jobs"] += st["jobs"]
        m[f"{fam}.stages"] += st["stages"]
        m[f"{fam}.task_s"] += st["task_s"]
        m[f"{fam}.shuffle_bytes"] += st["shuffle_read_bytes"] + st["shuffle_write_bytes"]
        m[f"{fam}.spill_bytes"] += st["spill_bytes"] + st["disk_spill_bytes"]
        m[f"{fam}.gc_ms"] += st["gc_ms"]
        m[f"{fam}.driver_s"] += st["driver_s"]
    return m


def workload_library(run: Run) -> tuple[dict, dict, dict]:
    from utxo_to_parquet_spark.operators.registry import memo_build_log

    sz = run.sizes
    table_hash = prepare.table_hash_fn(run.root)
    meta = prepare.cached(run.dirs.cache, "tables", sz["library_sf"], LIBRARY_DATA_SEED, *FAMILY_OF)
    main_dir, expected = meta["dir"], meta["oracle"]
    order = list(FAMILY_OF)
    random.Random(run.args.seed).shuffle(order)
    setup = run.start_session()
    n_memo = len(memo_build_log())
    cold_times = _run_pass(run, order, main_dir, expected, table_hash, "cold", run.tracer.enabled)
    memo = memo_build_log()[n_memo:]
    # warm passes: at least ``warm_passes``, more while the window lasts.
    # Traced runs add one and trace them untraced, traced, traced, untraced.
    warm: dict[bool, list] = {True: [], False: []}
    warm_q: dict[str, list] = {q: [] for q in order}
    deadline = time.perf_counter() + run.args.seconds
    i = 0
    while i < sz["warm_passes"] + (1 if run.tracer.enabled else 0) or (time.perf_counter() < deadline and i < 8):
        traced = run.tracer.enabled and i % 4 in (1, 2)
        t = _run_pass(run, order, main_dir, expected, table_hash, f"warm{i}", traced)
        warm[traced].append(sum(t.values()))
        if not traced:
            for q, dt in t.items():
                warm_q[q].append(dt)
        i += 1
    warm_totals = warm[False]
    ms = [x * 1000 for x in warm_totals]
    e2e = _e2e(setup, sum(cold_times.values()), ms)
    detail = {
        **_common_detail(ms),
        "sf": sz["library_sf"],
        "order": order,
        "library_cold_s": sum(cold_times.values()),
        "library_warm_s": _median(warm_totals),
        "cold_s": cold_times,
        "warm_passes_s": warm_totals,
        "warm_s": {q: _median(ts) for q, ts in warm_q.items()},
    }
    layer = {}
    if run.tracer.enabled:
        sc = run.spark.sparkContext
        cold_spans = [s for s in run.tracer.spans if s.get("pass_") == "cold"]
        layer = family_metrics(cold_spans)
        layer["memo_builds"] = len(memo)
        layer["memo_build_s"] = sum(s for _, s in memo)
        layer["storage_rdds"] = len(sc._jsc.getPersistentRDDs())
        layer["storage_mem_bytes"] = sum(r.memSize() for r in sc._jsc.sc().getRDDStorageInfo())
        layer["trace_overhead_ms"] = 1000 * (_median(warm[True]) - _median(warm[False]))
    return e2e, layer, detail


WORKLOADS = {
    "ingest_lookup": workload_ingest_lookup,
    "library": workload_library,
}
