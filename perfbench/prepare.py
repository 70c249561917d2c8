"""Generated inputs and their expected answers, cached by their parameters.

Inputs are built, and outputs inspected, in a child process, so the
measured process's peak RSS counts only the package and Spark:

    python3 perfbench/prepare.py <cache_dir> snapshot <rows> <seed> <n_present> <n_absent> <n_hot>
    python3 perfbench/prepare.py <cache_dir> tables <sf> <data_seed> <query> ...
    python3 perfbench/prepare.py - inspect <parquet_dir>

``snapshot`` writes a ``dumptxoutset`` file with the package's own fixture
path (``synthetic_utxo_rows`` + ``write_utxo_dump``, FIXTURES.md §2), the
DuckDB content digest of its rows and seeded lookup targets with their hit
counts. ``tables`` writes the fixture tables and the DuckDB-oracle
``table_hash`` of each query. ``inspect`` prints the DuckDB content digest
of a converted output and the script range in each file's footer.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def digest_sql(src: str) -> str:
    """Row count and an order-independent digest of every column."""
    return (
        "SELECT count(*), sum(hash(txid, vout, height, coinbase, amount, script)::HUGEINT)::VARCHAR"
        f" FROM {src}"
    )


def table_hash_fn(root: str):
    """``table_hash`` from the checkout's ``tools/check_correctness.py``."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


def _entry_dir(cache: str, kind: str, args: list) -> str:
    key = hashlib.sha256(" ".join(map(str, args)).encode()).hexdigest()[:10]
    return os.path.join(cache, "-".join([kind] + [str(a) for a in args[:2]] + [key]))


def cached(cache: str, kind: str, *args) -> dict:
    """Metadata of a cached input, built by a child process on a miss."""
    with building(cache, kind, *args) as result:
        return result()


@contextmanager
def building(cache: str, kind: str, *args):
    """Start building a cached input in a child process and yield a
    function that waits for it and returns its metadata. The caller works
    on meanwhile; a child still running when the block exits is killed and
    waited for."""
    meta_path = os.path.join(_entry_dir(cache, kind, list(args)), "meta.json")
    proc = None
    if not os.path.exists(meta_path):
        cmd = [sys.executable, os.path.abspath(__file__), cache, kind, *map(str, args)]
        proc = subprocess.Popen(cmd, cwd=ROOT)

    def result() -> dict:
        if proc is not None and proc.wait() != 0:
            raise subprocess.CalledProcessError(proc.returncode, proc.args)
        with open(meta_path) as fh:
            return json.load(fh)

    try:
        yield result
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()


def inspect(out: str) -> dict:
    """Content digest and footer script ranges of a converted output,
    computed by a child process. An output it cannot read has no digest."""
    cmd = [sys.executable, os.path.abspath(__file__), "-", "inspect", out]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        return {"digest": None, "ranges": []}
    return json.loads(proc.stdout)


def _inspect(out: str) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    try:
        n, h = duckdb.connect().execute(digest_sql(f"read_parquet('{out}/*.parquet')")).fetchone()
        digest = [int(n), h]
    except duckdb.Error:
        digest = None
    ranges = []
    for f in sorted(os.listdir(out)) if os.path.isdir(out) else []:
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        lo = hi = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema != "script":
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    lo, hi = b"", b"\xff" * 128
                else:
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            ranges.append([lo.hex(), hi.hex()])
    return {"digest": digest, "ranges": ranges}


def _snapshot(d: str, rows: int, seed: int, n_present: int, n_absent: int, n_hot: int) -> dict:
    import random
    from collections import Counter

    import duckdb
    import pyarrow as pa

    sys.path.insert(0, ROOT)
    from utxo_to_parquet_spark.sources import write_utxo_dump
    from utxo_to_parquet_spark.sources.synthetic import EATER_SCRIPT, synthetic_utxo_rows

    data = synthetic_utxo_rows(rows, seed=seed)
    dump = os.path.join(d, "snapshot.dat")
    write_utxo_dump(dump, data)
    generated = pa.table(  # noqa: F841 -- read by DuckDB below
        {
            "txid": pa.array([r[0][::-1].hex() for r in data], pa.string()),
            "vout": pa.array([r[1] for r in data], pa.int64()),
            "height": pa.array([r[2] for r in data], pa.int64()),
            "coinbase": pa.array([r[3] for r in data], pa.bool_()),
            "amount": pa.array([r[4] for r in data], pa.int64()),
            "script": pa.array([r[5] for r in data], pa.binary()),
        }
    )
    n, h = duckdb.connect().execute(digest_sql("generated")).fetchone()
    counts = Counter(r[5] for r in data)
    rng = random.Random(f"lookups-{rows}-{seed}")
    # selective: distinct present scripts, drawn uniformly
    distinct = [s for s in counts if s != EATER_SCRIPT]
    lookups = [("selective", s, counts[s]) for s in rng.choices(distinct, k=n_present)]
    while len(lookups) < n_present + n_absent:
        s = b"\x76\xa9\x14" + rng.randbytes(20) + b"\x88\xac"
        if s not in counts:
            lookups.append(("absent", s, 0))
    lookups += [("hot", EATER_SCRIPT, counts[EATER_SCRIPT])] * n_hot
    rng.shuffle(lookups)
    return {
        "rows": rows,
        "seed": seed,
        "dump": dump,
        "dump_bytes": os.path.getsize(dump),
        "digest": [int(n), h],
        "lookups": [[kind, s.hex(), c] for kind, s, c in lookups],
    }


def _tables(d: str, sf: float, seed: int, queries: list) -> dict:
    import duckdb

    import gen_tables

    sys.path.insert(0, ROOT)
    from utxo_to_parquet_spark.operators import all_oracles

    gen_tables.write_tables(d, sf, seed)
    table_hash = table_hash_fn(ROOT)
    oracles = all_oracles()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in gen_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    expected = {}
    for q in queries:
        rel = con.sql(oracles[q])
        expected[q] = list(table_hash(rel.columns, rel.fetchall()))
    return {"dir": d, "sf": sf, "seed": seed, "oracle": expected}


def main(argv: list) -> None:
    cache, kind, *args = argv
    if kind == "inspect":
        print(json.dumps(_inspect(args[0])))
        return
    d = _entry_dir(cache, kind, args)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if kind == "snapshot":
        meta = _snapshot(d, *map(int, args))
    else:
        meta = _tables(d, float(args[0]), int(args[1]), args[2:])
    with open(os.path.join(d, "meta.json.tmp"), "w") as fh:
        json.dump(meta, fh)
    os.replace(os.path.join(d, "meta.json.tmp"), os.path.join(d, "meta.json"))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main(sys.argv[1:])
