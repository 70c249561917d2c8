"""Golden + differential tests for the splittable dumptxoutset source
(FIXTURES.md §3; decode semantics of /root/reference/src/main.rs:167-278)."""

from __future__ import annotations

import pytest

from utxo_to_parquet_spark.kernels.header import build_header
from utxo_to_parquet_spark.sources import (
    convert_utxo_dump_to_parquet,
    index_utxo_dump,
    read_utxo_dump,
    write_utxo_dump,
)
from utxo_to_parquet_spark.sources.synthetic import EATER_SCRIPT, synthetic_utxo_rows


# secp256k1 generator point G and its negation -G, uncompressed SEC form
# (one of each Y parity, so both compression types 4 and 5 appear)
_GX = 0x79BE667EF9DCBBAC55A06295CE870B07029BFCDB2DCE28D959F2815B16F81798
_GY = 0x483ADA7726A3C4655DA4FBFC0E1108A8FD17B448A68554199C47D08FFB10D4B8
_P = 2**256 - 2**32 - 977
G_UNCOMPRESSED = b"\x04" + _GX.to_bytes(32, "big") + _GY.to_bytes(32, "big")
NEG_G_UNCOMPRESSED = b"\x04" + _GX.to_bytes(32, "big") + (_P - _GY).to_bytes(32, "big")


def expected_table(rows):
    """Reference-semantics expectation: txid byte-reversed hex."""
    return sorted(
        (txid[::-1].hex(), vout, height, coinbase, amount, script)
        for txid, vout, height, coinbase, amount, script in rows
    )


def spark_table(df):
    return sorted(
        (r.txid, r.vout, r.height, r.coinbase, r.amount, bytes(r.script))
        for r in df.collect()
    )


def test_empty_snapshot(tmp_path, spark):
    from utxo_to_parquet_spark.sources.convert import _range_bounds
    from utxo_to_parquet_spark.sources.utxo_dump import frame_dump_files

    path = str(tmp_path / "empty.dump")
    write_utxo_dump(path, [])
    ix = index_utxo_dump(path)
    assert ix.header.num_utxos == 0 and ix.splits == []
    assert read_utxo_dump(spark, path).count() == 0
    # no sample, so no boundaries: a sampled convert writes one empty bucket
    assert _range_bounds(frame_dump_files(path), 8) == []
    out = str(tmp_path / "empty.parquet")
    assert convert_utxo_dump_to_parquet(spark, path, out, global_sort="sampled") == 0
    assert spark.read.parquet(out).count() == 0


def test_single_coin_each_script_type(tmp_path, spark):
    rows = [r for r in synthetic_utxo_rows(200, seed=7)]
    path = str(tmp_path / "types.dump")
    write_utxo_dump(path, rows)
    df = read_utxo_dump(spark, path, chunk_rows=64)
    assert spark_table(df) == expected_table(rows)


def test_run_length_groups_and_split_boundaries(tmp_path, spark):
    # small chunk_rows forces splits to land mid-group, exercising the
    # carried-txid/carried-coins state restoration
    rows = synthetic_utxo_rows(1000, seed=3)
    path = str(tmp_path / "groups.dump")
    write_utxo_dump(path, rows)
    ix = index_utxo_dump(path, chunk_rows=37)
    assert ix.header.num_utxos == 1000
    assert sum(s.num_rows for s in ix.splits) == 1000
    assert len(ix.splits) == (1000 + 36) // 37
    df = read_utxo_dump(spark, path, chunk_rows=37)
    assert spark_table(df) == expected_table(rows)


def test_schema(tmp_path, spark):
    rows = synthetic_utxo_rows(10, seed=1)
    path = str(tmp_path / "schema.dump")
    write_utxo_dump(path, rows)
    df = read_utxo_dump(spark, path)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("txid", "string"),
        ("vout", "bigint"),
        ("height", "bigint"),
        ("coinbase", "boolean"),
        ("amount", "bigint"),
        ("script", "binary"),
    ]


def test_bad_magic_raises(tmp_path):
    path = str(tmp_path / "bad.dump")
    with open(path, "wb") as f:
        f.write(b"nope\xff" + b"\x00" * 46)
    with pytest.raises(ValueError, match="magic"):
        index_utxo_dump(path)


def test_truncated_raises(tmp_path):
    rows = synthetic_utxo_rows(50, seed=5)
    path = str(tmp_path / "trunc.dump")
    write_utxo_dump(path, rows)
    data = open(path, "rb").read()
    with open(path, "wb") as f:
        f.write(data[:-10])
    with pytest.raises(ValueError):
        index_utxo_dump(path)


def test_zero_coin_group_raises(tmp_path):
    path = str(tmp_path / "zero.dump")
    with open(path, "wb") as f:
        f.write(build_header(1))
        f.write(b"\xab" * 32)  # txid
        f.write(b"\x00")  # consensus varint 0 coins — invalid
    with pytest.raises(ValueError, match="zero coins"):
        index_utxo_dump(path)


def test_end_to_end_convert_and_flagship_query(tmp_path, spark):
    """The reference's full lifecycle: dump → parquet → point lookup
    (README.md:54-56 analog) — plus verify zstd + row-group layout."""
    from pyspark.sql import functions as F

    rows = synthetic_utxo_rows(5000, seed=42, eater_every=100)
    dump = str(tmp_path / "e2e.dump")
    out = str(tmp_path / "e2e.parquet")
    write_utxo_dump(dump, rows)
    n = convert_utxo_dump_to_parquet(spark, dump, out, chunk_rows=1000)
    assert n == 5000

    df = spark.read.parquet(out)
    hits = (
        df.filter(F.col("script") == F.lit(EATER_SCRIPT))
        .select("txid", "vout", "amount", "height")
        .orderBy("height")
    )
    expected_hits = [r for r in rows if r[5] == EATER_SCRIPT]
    assert hits.count() == len(expected_hits) == 50

    # the scan must push the equality predicate down to parquet
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(script), EqualTo(script" in plan


def _native_batch(ext):
    """Decode one split extent with the C kernel itself, so that any
    failure on the C side fails the test rather than reaching the Python
    loop."""
    from utxo_to_parquet_spark.sources import native

    with open(ext.path, "rb") as f:
        f.seek(ext.offset)
        data = f.read(ext.length)
    rb = native.decode_split_native(data, ext.carried_txid, ext.carried_coins_left, ext.num_rows)
    assert rb is not None
    return rb


def test_native_decode_matches_python_fallback(tmp_path, monkeypatch):
    """The C decode kernel and the pure-Python loop must produce
    byte-identical RecordBatches over every script type and run-length
    shape (same differential idea as the driver's oracle gate)."""
    from utxo_to_parquet_spark.sources import native
    from utxo_to_parquet_spark.sources.utxo_dump import frame_dump_files, read_split, split_extents

    if native.get_native_framer() is None:
        pytest.skip("no C compiler available")
    path = str(tmp_path / "parity.dump")
    rows = synthetic_utxo_rows(5_000, seed=99)
    write_utxo_dump(path, rows)
    for ext in split_extents(frame_dump_files(path, chunk_rows=1_234)):
        rb_native = _native_batch(ext)
        with monkeypatch.context() as m:
            m.setattr(native, "decode_split_native", lambda *a, **k: None)
            rb_py = read_split(ext)
        assert rb_native.schema == rb_py.schema
        assert rb_native.to_pylist() == rb_py.to_pylist()


def test_cli_convert(tmp_path, spark):
    """python -m utxo_to_parquet_spark -i ... -o ... (reference CLI parity,
    main.rs:31-42)."""
    from utxo_to_parquet_spark.__main__ import main

    dump = str(tmp_path / "cli.dump")
    out = str(tmp_path / "cli_out.parquet")
    rows = synthetic_utxo_rows(2_000, seed=5)
    write_utxo_dump(dump, rows)
    main(["-i", dump, "-o", out, "--chunk-rows", "500"])
    df = spark.read.parquet(out)
    assert df.count() == 2_000
    assert spark_table(df) == expected_table(rows)


def test_datasource_format(tmp_path, spark):
    """spark.read.format("utxo_dump") — the Spark 4 Python DataSource
    registration path must decode identically to read_utxo_dump, on one
    file, on a directory of shards and on an empty snapshot."""
    from utxo_to_parquet_spark.sources import register_utxo_datasource

    register_utxo_datasource(spark)
    rows = synthetic_utxo_rows(1_500, seed=11)
    path = str(tmp_path / "ds.dump")
    write_utxo_dump(path, rows)
    df = (
        spark.read.format("utxo_dump")
        .option("chunk_rows", 400)
        .load(path)
    )
    assert df.rdd.getNumPartitions() == (1_500 + 399) // 400
    assert spark_table(df) == expected_table(rows)

    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    write_utxo_dump(str(shard_dir / "a.dump"), rows[:600])
    write_utxo_dump(str(shard_dir / "b.dump"), rows[600:])
    empty = str(tmp_path / "empty.dump")
    write_utxo_dump(empty, [])
    for p, n_rows in ((str(shard_dir), 1_500), (empty, 0)):
        df = spark.read.format("utxo_dump").option("chunk_rows", 400).load(p)
        got = spark_table(df)
        assert len(got) == n_rows
        assert got == spark_table(read_utxo_dump(spark, p, chunk_rows=400))
    # 600 and 900 rows: 2 + 3 splits of at most 400
    assert spark.read.format("utxo_dump").option("chunk_rows", 400).load(
        str(shard_dir)
    ).rdd.getNumPartitions() == 5


def test_native_decode_parity_property(tmp_path):
    """Property-based differential: random row shapes (hypothesis
    strategies drive amounts/heights/script forms through the dump writer)
    must decode identically through the C kernel and the Python loop."""
    from hypothesis import given, settings, HealthCheck
    from hypothesis import strategies as st

    from utxo_to_parquet_spark.sources import native
    from utxo_to_parquet_spark.sources import utxo_dump as ud

    if native.get_native_framer() is None:
        pytest.skip("no C compiler available")

    import hashlib

    script_strat = st.one_of(
        st.binary(min_size=0, max_size=80),  # raw scripts incl. empty
        st.builds(
            lambda h: bytes([0x76, 0xA9, 20]) + h + bytes([0x88, 0xAC]),
            st.binary(min_size=20, max_size=20),
        ),
        st.builds(
            lambda h: bytes([0xA9, 20]) + h + bytes([0x87]),
            st.binary(min_size=20, max_size=20),
        ),
        st.builds(
            lambda b, p: bytes([33, p]) + hashlib.sha256(b).digest() + bytes([0xAC]),
            st.binary(min_size=1, max_size=8),
            st.sampled_from([2, 3]),
        ),
        # uncompressed P2PK (types 4/5): the generator point and its negation
        st.sampled_from(
            [bytes([65]) + pub + bytes([0xAC]) for pub in (G_UNCOMPRESSED, NEG_G_UNCOMPRESSED)]
        ),
    )
    row_strat = st.tuples(
        st.integers(min_value=0, max_value=2**20),  # txid seed (grouping via small space)
        st.integers(min_value=0, max_value=100_000),  # vout
        st.integers(min_value=0, max_value=2**40),  # height
        st.booleans(),
        st.integers(min_value=0, max_value=2_100_000_000_000_000),  # amount <= supply
        script_strat,
    )

    @settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(
        st.lists(row_strat, min_size=1, max_size=200),
        st.integers(min_value=1, max_value=50),
        st.integers(min_value=1, max_value=60),
    )
    def check(raw_rows, chunk_rows, sample_rows):
        rows = [
            (hashlib.sha256(str(seed % 7).encode()).digest(), v, h, cb, amt, s)
            for seed, v, h, cb, amt, s in raw_rows
        ]
        # consecutive equal txids group; seed%7 makes groups common
        path = str(tmp_path / "prop.dump")
        write_utxo_dump(path, rows)
        orig_rows, orig_framer = ud.SAMPLE_ROWS, native.frame_scan_native
        ud.SAMPLE_ROWS = sample_rows  # strides > 1 on these small dumps
        try:
            ix = ud.index_utxo_dump(path, chunk_rows=chunk_rows, use_cache=False)
            native.frame_scan_native = lambda *a, **k: None  # the Python framer
            ix_py = ud.index_utxo_dump(path, chunk_rows=chunk_rows, use_cache=False)
        finally:
            ud.SAMPLE_ROWS, native.frame_scan_native = orig_rows, orig_framer
        assert ix == ix_py  # C and Python framers: same splits, same sample
        decoded = []
        for ext in ud.split_extents([(path, ix)]):
            rb_native = _native_batch(ext)
            # force the pure-Python path for the differential side
            orig = native.decode_split_native
            native.decode_split_native = lambda *a, **k: None
            try:
                rb_py = ud.read_split(ext)
            finally:
                native.decode_split_native = orig
            assert rb_native.to_pylist() == rb_py.to_pylist()
            decoded += rb_py.column("script").to_pylist()
        # each sampled prefix is the head of the decoded script at its row
        heads = [bytes(sc[:7]).ljust(7, b"\x00") for sc in decoded[:: ix.sample_stride]]
        assert ix.sample == b"".join(heads)

    check()


def _check_range_layout(out, rows):
    """Output rows equal ``rows`` as a multiset, every file is sorted by
    script and the files' script ranges are pairwise disjoint. Returns
    the per-file row counts."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{out}/part-*"))
    assert len(files) >= 1
    got, ranges, counts = [], [], []
    for fp in files:
        t = pq.read_table(fp)
        scripts = t.column("script").to_pylist()
        assert scripts == sorted(scripts)  # sorted within file
        if scripts:
            ranges.append((scripts[0], scripts[-1]))
        counts.append(t.num_rows)
        got += [tuple(r.values()) for r in t.to_pylist()]
    assert sorted(got) == expected_table(rows)
    # files sorted by part number are not necessarily range-ordered;
    # check disjointness instead: ranges must not overlap pairwise
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (equal keys may straddle: allow <=)
    return counts


@pytest.mark.parametrize("global_sort", [True, "sampled", "cli"])
def test_global_sort_produces_total_order(tmp_path, spark, monkeypatch, global_sort):
    """Every way to ask for a global sort (``True``, any truthy value such
    as "sampled", the CLI's --global-sort) takes the one range exchange,
    once, whose boundaries come from the framing pass's prefix sample:
    files are disjoint script ranges and concatenating them in range
    order yields one global sorted order."""
    from utxo_to_parquet_spark.__main__ import main
    from utxo_to_parquet_spark.sources import convert

    calls = []
    exchange = convert._sampled_range_exchange

    def counting(*a, **k):
        calls.append(1)
        return exchange(*a, **k)

    monkeypatch.setattr(convert, "_sampled_range_exchange", counting)
    rows = synthetic_utxo_rows(5_000, seed=21)
    dump = str(tmp_path / "gs.dump")
    out = str(tmp_path / "gs.parquet")
    write_utxo_dump(dump, rows)
    if global_sort == "cli":
        main(["-i", dump, "-o", out, "--chunk-rows", "1000", "--global-sort"])
    else:
        n = convert_utxo_dump_to_parquet(spark, dump, out, chunk_rows=1_000, global_sort=global_sort)
        assert n == 5_000
    assert calls == [1]
    _check_range_layout(out, rows)


@pytest.mark.parametrize("framer", ["c", "python"])
def test_sampled_global_sort_weights_shards_by_rows(tmp_path, spark, monkeypatch, framer):
    """A two-shard directory with a 1:9 row split, whose shards cover
    different script ranges: the small shard's sample must count for a
    tenth of the rows, so every bucket holds n / buckets rows within
    25%. A small SAMPLE_ROWS gives the shards different strides."""
    from utxo_to_parquet_spark.sources import native, utxo_dump as ud

    if framer == "c" and native.get_native_framer() is None:
        pytest.skip("no C compiler available")
    if framer == "python":
        monkeypatch.setattr(native, "frame_scan_native", lambda *a, **k: None)
    monkeypatch.setattr(ud, "SAMPLE_ROWS", 400)
    rows = sorted(synthetic_utxo_rows(10_000, seed=23), key=lambda r: r[5])
    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    write_utxo_dump(str(shard_dir / "a.dump"), rows[:1_000])
    write_utxo_dump(str(shard_dir / "b.dump"), rows[1_000:])
    strides = [ix.sample_stride for _, ix in ud.frame_dump_files(str(shard_dir), chunk_rows=2_000)]
    assert strides == [3, 23]
    out = str(tmp_path / "shards.parquet")
    n = convert_utxo_dump_to_parquet(spark, str(shard_dir), out, chunk_rows=2_000, global_sort="sampled")
    assert n == 10_000
    counts = _check_range_layout(out, rows)
    buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(counts) == buckets
    for c in counts:
        assert abs(c - n / buckets) <= 0.25 * n / buckets, counts


def test_sampled_convert_frames_once(tmp_path, spark, monkeypatch):
    """Without the sidecar cache, a sampled convert still frames the
    snapshot once: the sample comes from the same framing pass as the
    decode splits."""
    from utxo_to_parquet_spark.sources import utxo_dump as ud

    calls = []
    frame = ud.index_utxo_dump

    def counting(path, *a, **k):
        calls.append(path)
        return frame(path, *a, **k)

    monkeypatch.setattr(ud, "index_utxo_dump", counting)
    dump = str(tmp_path / "once.dump")
    write_utxo_dump(dump, synthetic_utxo_rows(3_000, seed=29))
    out = str(tmp_path / "once.parquet")
    n = convert_utxo_dump_to_parquet(
        spark, dump, out, chunk_rows=1_000, global_sort="sampled", use_cache=False
    )
    assert n == 3_000
    assert calls == [dump]


def test_split_index_cache(tmp_path):
    """The sidecar split index skips the framing pass on repeat reads and
    invalidates on file change, different chunk_rows, or content that
    does not fit the file."""
    import json
    import os

    from utxo_to_parquet_spark.sources.convert import _range_bounds
    from utxo_to_parquet_spark.sources.utxo_dump import _split_digest

    rows = synthetic_utxo_rows(800, seed=13)
    path = str(tmp_path / "cache.dump")
    write_utxo_dump(path, rows)
    ix1 = index_utxo_dump(path, chunk_rows=100)
    sidecar = path + ".splits.json"
    assert os.path.exists(sidecar)
    assert index_utxo_dump(path, chunk_rows=100) == ix1  # cache hit
    # different chunk_rows: must re-frame, not serve the stale layout
    assert len(index_utxo_dump(path, chunk_rows=37).splits) == (800 + 36) // 37
    # file rewrite invalidates
    write_utxo_dump(path, synthetic_utxo_rows(900, seed=14))
    os.utime(path, ns=(1, 1))  # force distinct mtime even on coarse clocks
    ix = index_utxo_dump(path, chunk_rows=37)
    assert ix.header.num_utxos == 900 and sum(s.num_rows for s in ix.splits) == 900
    with open(sidecar) as fh:
        doc = json.load(fh)

    def reframed(damaged: dict, seal: bool = True) -> None:
        """A sidecar holding ``damaged`` is a miss: the file is framed
        again and the sidecar rewritten. ``seal`` gives it a matching
        digest, so the content checks, not the digest, must reject it."""
        if seal:
            damaged = {**damaged, "digest": _split_digest(damaged)}
        with open(sidecar, "w") as fh:
            json.dump(damaged, fh)
        assert index_utxo_dump(path, chunk_rows=37) == ix
        with open(sidecar) as fh:
            assert json.load(fh) == doc

    # corrupt sidecar falls back to framing
    with open(sidecar, "w") as fh:
        fh.write("{not json")
    assert index_utxo_dump(path, chunk_rows=37) == ix
    # a sidecar without a sample (the format before the framing pass took
    # one) is a miss too, so the boundaries come from a full sample,
    # never from an empty one
    reframed({k: doc[k] for k in ("size", "mtime_ns", "chunk_rows", "splits")}, seal=False)
    assert len(ix.sample) == 7 * 900
    assert len(_range_bounds([(path, ix)], 4)) == 3
    # a truncated split list would decode fewer rows than the header counts
    reframed({**doc, "splits": doc["splits"][:-1]})
    # shifted offsets: off the end of the header, out of order, past EOF
    size = os.path.getsize(path)
    for k, offset in ((0, doc["splits"][0][0] + 1), (1, doc["splits"][2][0]), (-1, size)):
        splits = [list(s) for s in doc["splits"]]
        splits[k][0] = offset
        reframed({**doc, "splits": splits})
    # the first split starts a txid group: it carries no coins
    splits = [list(s) for s in doc["splits"]]
    splits[0][2] = 1
    reframed({**doc, "splits": splits})
    # an interior split edited so that the content checks still hold (an
    # offset moved by one byte, a carried txid changed) fails the digest
    for field, value in ((0, doc["splits"][1][0] + 1), (1, "ab" * 32)):
        splits = [list(s) for s in doc["splits"]]
        splits[1][field] = value
        reframed({**doc, "splits": splits}, seal=False)


def test_partitioned_output_prunes_height_ranges(tmp_path, spark):
    """partition_by_height_epoch: height-range predicates prune whole
    hive partitions at plan time (PartitionFilters), before page stats."""
    from pyspark.sql import functions as F

    rows = synthetic_utxo_rows(4_000, seed=33)
    dump = str(tmp_path / "pp.dump")
    out = str(tmp_path / "pp.parquet")
    write_utxo_dump(dump, rows)
    n = convert_utxo_dump_to_parquet(
        spark, dump, out, chunk_rows=1_000, partition_by_height_epoch=100_000
    )
    assert n == 4_000

    df = spark.read.parquet(out)
    q = df.filter((F.col("height") >= 100_000) & (F.col("height") < 200_000))
    plan = q._jdf.queryExecution().executedPlan().toString()
    # partition pruning happened if height_epoch filters appear in
    # PartitionFilters (derived or explicit) OR we add them explicitly:
    q2 = q.filter(F.col("height_epoch") == 1)
    plan2 = q2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan2
    assert "height_epoch" in plan2.split("PartitionFilters:")[1][:200]
    expected = [r for r in rows if 100_000 <= r[2] < 200_000]
    assert q2.count() == len(expected)
    # full content round-trips (partition column added, the rest intact)
    assert df.drop("height_epoch").count() == 4_000


def test_address_rollup_consistent_with_script_rollup(tmp_path, spark):
    """Address decoding over the REAL dump pipeline: for template scripts
    the per-address balance rollup must equal the per-script rollup
    (address is a bijection of the script for these types)."""
    from pyspark.sql import functions as F

    from utxo_to_parquet_spark.kernels.address import script_to_address

    rows = synthetic_utxo_rows(3_000, seed=17)
    dump = str(tmp_path / "addr.dump")
    write_utxo_dump(dump, rows)
    df = read_utxo_dump(spark, dump)

    @F.pandas_udf("string")
    def to_addr(s):
        return s.map(lambda b: script_to_address(bytes(b)))

    by_addr = (
        df.withColumn("address", to_addr("script"))
        .filter(F.col("address").isNotNull())
        .groupBy("address")
        .agg(F.sum("amount").alias("bal"))
    )
    got = {r.address: r.bal for r in by_addr.collect()}
    expected = {}
    for _, _, _, _, amount, script in rows:
        a = script_to_address(script)
        if a is not None:
            expected[a] = expected.get(a, 0) + amount
    assert got == expected


def test_multi_file_dump_directory(tmp_path, spark):
    """A directory of snapshot shards reads as one table: per-file
    framing (parallel on the driver), union of all rows."""
    all_rows = []
    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    for i in range(3):
        rows = synthetic_utxo_rows(700 + i * 100, seed=40 + i)
        write_utxo_dump(str(shard_dir / f"part{i}.dump"), rows)
        all_rows.extend(rows)
    from utxo_to_parquet_spark.sources.utxo_dump import decode_frames, frame_dump_files

    header, df = decode_frames(spark, frame_dump_files(str(shard_dir), chunk_rows=300))
    assert header.num_utxos == len(all_rows)
    assert spark_table(df) == expected_table(all_rows)
    # glob form reads the same
    df2 = read_utxo_dump(spark, str(shard_dir / "part*.dump"), chunk_rows=300)
    assert df2.count() == len(all_rows)


def test_interrupted_write_fails_loudly_on_read(tmp_path):
    """A dump whose writer crashed mid-stream must be rejected by the
    framing pass, not parse as a valid empty/truncated snapshot — the
    streaming writer holds an impossible count (2^64-1) in the header
    until the stream completes."""
    import pytest

    from utxo_to_parquet_spark.sources.utxo_dump import index_utxo_dump

    path = str(tmp_path / "crashed.dump")

    def exploding_rows():
        yield from synthetic_utxo_rows(100, seed=1)
        raise RuntimeError("simulated mid-write crash")

    with pytest.raises(RuntimeError):
        write_utxo_dump(path, exploding_rows())
    with pytest.raises(ValueError):
        index_utxo_dump(path, use_cache=False)


def test_multi_file_corrupt_shard_fails_loudly(tmp_path, spark):
    """One corrupt shard in a directory input must raise during the
    framing pass (not silently drop the shard or emit garbage rows) —
    the validation contract (S13) holds file-by-file on sharded inputs."""
    import pytest

    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    write_utxo_dump(str(shard_dir / "part0.dump"), synthetic_utxo_rows(500, seed=60))
    write_utxo_dump(str(shard_dir / "part1.dump"), synthetic_utxo_rows(500, seed=61))
    bad = shard_dir / "part1.dump"
    data = bytearray(bad.read_bytes())
    data[:5] = b"BOGUS"  # clobber the magic
    bad.write_bytes(bytes(data))
    from utxo_to_parquet_spark.sources.utxo_dump import frame_dump_files

    with pytest.raises(ValueError):
        frame_dump_files(str(shard_dir), chunk_rows=300)


def test_partitioned_global_sort_combined(tmp_path, spark):
    """partition_by_height_epoch + global_sort together: hive partitions
    with range-partitioned, script-sorted files inside each."""
    import glob

    import pyarrow.parquet as pq

    rows = synthetic_utxo_rows(3_000, seed=51)
    dump = str(tmp_path / "pg.dump")
    out = str(tmp_path / "pg.parquet")
    write_utxo_dump(dump, rows)
    n = convert_utxo_dump_to_parquet(
        spark, dump, out, chunk_rows=1_000,
        global_sort=True, partition_by_height_epoch=300_000,
    )
    assert n == 3_000
    df = spark.read.parquet(out)
    assert df.count() == 3_000
    for fp in glob.glob(f"{out}/height_epoch=*/part-*"):
        scripts = pq.read_table(fp, columns=["script"]).column("script").to_pylist()
        assert scripts == sorted(scripts)


def test_truncated_compactsize_raises_at_parse_site(tmp_path, monkeypatch):
    """A dump cut off inside a multi-byte CompactSize count must fail
    with a truncation error in BOTH framing paths — the C kernel and the
    Python fallback (which previously read a short slice silently and
    produced a wrong coins_left)."""
    import pytest

    from utxo_to_parquet_spark.kernels import build_header
    from utxo_to_parquet_spark.sources import native, utxo_dump

    path = str(tmp_path / "trunc.dump")
    with open(path, "wb") as f:
        f.write(build_header(1000))
        f.write(b"\x11" * 32)  # txid
        f.write(b"\xfd\x01")  # 0xFD CompactSize, only 1 of 2 count bytes

    # native path
    if native.get_native_framer() is not None:
        with pytest.raises(ValueError, match="truncated|EOF"):
            utxo_dump.index_utxo_dump(path, use_cache=False)

    # forced Python fallback
    monkeypatch.setattr(native, "frame_scan_native", lambda *a, **k: None)
    with pytest.raises(ValueError, match="truncated dump"):
        utxo_dump.index_utxo_dump(path, use_cache=False)


@pytest.mark.parametrize("decoder", ["c", "python"])
def test_out_of_range_values_raise(tmp_path, monkeypatch, decoder):
    """A vout, height or amount that does not fit the signed 64-bit
    schema is a ValueError naming the field, in both decoders; a group
    count past 2^63-1 is one in both framers."""
    from utxo_to_parquet_spark.kernels.amount import compress_amount
    from utxo_to_parquet_spark.kernels.varint import write_core_varint
    from utxo_to_parquet_spark.sources import native
    from utxo_to_parquet_spark.sources.utxo_dump import frame_dump_files, read_split, split_extents

    if decoder == "c" and native.get_native_framer() is None:
        pytest.skip("no C compiler available")
    if decoder == "python":
        monkeypatch.setattr(native, "frame_scan_native", lambda *a, **k: None)
        monkeypatch.setattr(native, "decode_split_native", lambda *a, **k: None)
    zero, raw_empty = b"\x00", b"\x06"
    cases = [
        # the field the error names; the record's vout, code and amount
        ("vout", b"\xff" * 9, zero, zero),
        ("height", zero, write_core_varint(2**64), zero),  # code past 64 bits
        ("amount", zero, zero, write_core_varint(compress_amount(93 * 10**17))),  # > 2^63-1
        # a compressed amount past 64 bits, even one whose decompressed
        # value would fit
        ("amount", zero, zero, write_core_varint(2**64 + 5)),
    ]
    for field, vout, code, amount in cases:
        path = str(tmp_path / "range.dump")
        with open(path, "wb") as f:
            f.write(build_header(1) + b"\x42" * 32 + b"\x01" + vout + code + amount + raw_empty)
        (ext,) = split_extents(frame_dump_files(path, use_cache=False))
        with pytest.raises(ValueError, match=f"{field} out of range"):
            _native_batch(ext) if decoder == "c" else read_split(ext)
    path = str(tmp_path / "count.dump")
    with open(path, "wb") as f:
        f.write(build_header(1) + b"\x42" * 32 + b"\xff" + (2**63).to_bytes(8, "little") + b"\x00\x00\x00\x06")
    with pytest.raises(ValueError, match="coin count out of range"):
        frame_dump_files(path, use_cache=False)


def _every_type_dump(path: str) -> list[int]:
    """Write a valid dump holding every script compression type, in one-
    and three-coin groups, and return the offsets of its script-size codes."""
    from utxo_to_parquet_spark.kernels.header import HEADER_LEN
    from utxo_to_parquet_spark.kernels.script import decode_script
    from utxo_to_parquet_spark.kernels.varint import read_consensus_varint, read_core_varint

    scripts = [
        b"\x76\xa9\x14" + bytes(range(20)) + b"\x88\xac",
        b"\xa9\x14" + bytes(range(20, 40)) + b"\x87",
        b"\x21\x02" + bytes(range(32)) + b"\xac",
        b"\x21\x03" + bytes(range(32, 64)) + b"\xac",
        b"\x41" + G_UNCOMPRESSED + b"\xac",
        b"\x41" + NEG_G_UNCOMPRESSED + b"\xac",
        b"",
        b"\x6a\x01\x02",
        bytes(range(90)),
    ]
    rows = []
    for k, script in enumerate(scripts):
        rows.append((bytes([k + 1]) * 32, k, 100 + k, k % 2 == 0, 546 * k, script))
        rows += [(bytes([k + 101]) * 32, v, 2**40 + v, False, 2_100_000_000_000_000, script) for v in range(3)]
    write_utxo_dump(path, rows)
    with open(path, "rb") as f:
        data = f.read()
    offsets, pos = [], HEADER_LEN
    while pos < len(data):
        count, pos = read_consensus_varint(data, pos + 32)
        for _ in range(count):
            for read in (read_consensus_varint, read_core_varint, read_core_varint):
                _, pos = read(data, pos)
            offsets.append(pos)
            _, pos = decode_script(data, pos)
    return offsets


def test_mutation_fuzz_c_matches_python(tmp_path):
    """Mutated dumps (bytes flipped, truncated, a varint widened or made
    longer than 64 bits, a bad script-size code) frame and decode alike
    through the C kernels and the Python fallback: both raise ValueError,
    or both return the same splits, sample and rows."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from utxo_to_parquet_spark.kernels.header import HEADER_LEN
    from utxo_to_parquet_spark.kernels.varint import write_core_varint
    from utxo_to_parquet_spark.sources import native
    from utxo_to_parquet_spark.sources import utxo_dump as ud

    if native.get_native_framer() is None:
        pytest.skip("no C compiler available")
    path = str(tmp_path / "fuzz.dump")
    script_codes = _every_type_dump(path)
    with open(path, "rb") as f:
        base = f.read()
    bad_codes = [
        b"\x04",  # uncompressed P2PK over a payload that need not be on the curve
        b"\x80\x00",  # raw script of 122 bytes: shifts the framing
        write_core_varint(6 + 10**6),  # raw script past EOF
        b"\xff" * 10 + b"\x7f",  # size code past 64 bits
    ]

    def run(data: bytes, python: bool):
        with open(path, "wb") as f:
            f.write(data)
        saved = native.frame_scan_native, native.decode_split_native
        if python:
            native.frame_scan_native = native.decode_split_native = lambda *a, **k: None
        try:
            ix = ud.index_utxo_dump(path, chunk_rows=5, use_cache=False)
            decode = ud.read_split if python else _native_batch
            return ix, [decode(e).to_pylist() for e in ud.split_extents([(path, ix)])]
        except ValueError:
            return ValueError
        finally:
            native.frame_scan_native, native.decode_split_native = saved

    body = st.integers(HEADER_LEN, len(base) - 1)
    mutation = st.one_of(
        st.tuples(st.just("flip"), st.integers(0, len(base) - 1), st.integers(1, 255)),
        st.tuples(st.just("truncate"), st.integers(0, len(base) - 1), st.just(0)),
        st.tuples(st.just("widen"), body, st.sampled_from([0xFD, 0xFE, 0xFF])),
        st.tuples(st.just("long_varint"), body, st.integers(1, 12)),
        st.tuples(st.just("script_code"), st.sampled_from(script_codes), st.sampled_from(bad_codes)),
    )

    @settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(mutation, min_size=1, max_size=3))
    def check(mutations):
        data = bytearray(base)
        for kind, pos, arg in mutations:
            pos = min(pos, len(data) - 1)
            if kind == "flip":
                data[pos] ^= arg
            elif kind == "truncate":
                del data[pos:]
            elif kind == "widen":  # the same value in a wider CompactSize
                data[pos : pos + 1] = bytes([arg]) + data[pos : pos + 1].ljust({0xFD: 2, 0xFE: 4, 0xFF: 8}[arg], b"\x00")
            elif kind == "long_varint":  # continuation bytes ahead of a varint byte
                data[pos:pos] = b"\xff" * arg
            else:
                data[pos : pos + 1] = arg
            if len(data) <= HEADER_LEN:
                break
        assert run(bytes(data), python=False) == run(bytes(data), python=True)

    check()


def test_streaming_datasource_replays_snapshot(tmp_path, spark):
    """readStream over the utxo_dump format: micro-batched replay must
    reproduce the batch decode exactly, across multiple triggers bounded
    by splits_per_trigger (backpressure), including a checkpoint-free
    restartable offset sequence."""
    import uuid

    from utxo_to_parquet_spark.sources import register_utxo_datasource
    from utxo_to_parquet_spark.sources.synthetic import synthetic_utxo_rows
    from utxo_to_parquet_spark.sources.utxo_dump import write_utxo_dump

    dump = str(tmp_path / "stream.dat")
    write_utxo_dump(dump, synthetic_utxo_rows(20_000, seed=11))
    register_utxo_datasource(spark)

    sdf = (
        spark.readStream.format("utxo_dump")
        .option("chunk_rows", 5_000)
        .option("splits_per_trigger", 1)
        .load(dump)
    )
    name = "utxo_stream_" + uuid.uuid4().hex[:6]
    q = sdf.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        # recentProgress is an ASYNC-updated buffer: all data is in the
        # sink after processAllAvailable, but the progress events for the
        # last batches may not have landed yet (seen flaking under heavy
        # host throttle) — poll briefly instead of reading it once
        import time as _time

        deadline = _time.time() + 15
        n_batches = len(q.recentProgress)
        while n_batches < 4 and _time.time() < deadline:
            _time.sleep(0.25)
            n_batches = len(q.recentProgress)
    finally:
        q.stop()

    streamed = spark.table(name)
    batch = spark.read.format("utxo_dump").option("chunk_rows", 5_000).load(dump)
    assert streamed.count() == batch.count() == 20_000
    assert n_batches >= 4  # one split per trigger → many micro-batches
    # value-level equality, not just counts
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
