"""File-level Bloom index (``iceberg.bloomindex``) and the pure-Python
Spark-compatible XXH64 (``iceberg.xxhash``).

The load-bearing guarantee is BIT-EXACTNESS: executors set bit
positions with the built-in ``F.xxhash64`` and the driver probes them
with the Python reimplementation — one mismatched hash silently prunes
a live file.  The differential test sweeps every supported typed path
and the seed chain against real Spark.  Index semantics: superset test
(never loses a match), blob-less files always kept, deletes never
unsound, DNF handled like ``apply_filters``."""

from __future__ import annotations

import datetime
import random
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
from daskberg_spark.iceberg import bloomindex
from daskberg_spark.iceberg.bloomindex import write_file_blooms
from daskberg_spark.iceberg.metadata import IcebergTable
from daskberg_spark.iceberg.writer import IcebergWriter
from daskberg_spark.iceberg.xxhash import (
    SPARK_DEFAULT_SEED,
    hash_typed,
    spark_xxhash64_chain,
    to_signed64,
)


def test_xxhash64_bit_exact_vs_spark(spark):
    random.seed(20260815)
    cases = [
        ("long", T.LongType(), [0, 1, -1, 2**63 - 1, -(2**63), 42]
         + [random.randint(-(2**63), 2**63 - 1) for _ in range(20)]),
        ("int", T.IntegerType(), [0, 1, -1, 2**31 - 1, -(2**31)]
         + [random.randint(-(2**31), 2**31 - 1) for _ in range(20)]),
        ("string", T.StringType(), ["", "a", "hello", "x" * 7, "y" * 8,
         "z" * 31, "w" * 32, "q" * 100, "héllo wörld", "字符串", "\x00\x01"]),
        ("boolean", T.BooleanType(), [True, False]),
        ("date", T.DateType(), [datetime.date(1970, 1, 1),
         datetime.date(2024, 5, 17), datetime.date(1899, 12, 31)]),
        ("timestamp", T.TimestampNTZType(), [datetime.datetime(1970, 1, 1),
         datetime.datetime(2024, 5, 17, 12, 34, 56, 789123)]),
    ]
    for ice_type, st, values in cases:
        df = spark.createDataFrame(
            [(v,) for v in values],
            T.StructType([T.StructField("c", st, True)]),
        )
        got = [r[0] for r in df.select(F.xxhash64("c")).collect()]
        exp = [
            to_signed64(hash_typed(v, ice_type, SPARK_DEFAULT_SEED))
            for v in values
        ]
        assert got == exp, f"xxhash64 mismatch for {ice_type}"
    # seed chaining: xxhash64(col, lit(seed).cast('long'))
    seed = 0x9E3779B9
    vals = [0, -1, 7, 2**40]
    df = spark.createDataFrame([(v,) for v in vals], "c bigint")
    got = [
        r[0]
        for r in df.select(
            F.xxhash64("c", F.lit(seed).cast("long"))
        ).collect()
    ]
    assert got == [spark_xxhash64_chain(v, "long", seed) for v in vals]
    # NULL leaves the running hash unchanged
    df = spark.createDataFrame([(None,)], "c bigint")
    assert df.select(F.xxhash64("c")).first()[0] == to_signed64(
        hash_typed(None, "long", SPARK_DEFAULT_SEED)
    )


def _indexed_table(spark, n_parts=6, rows_per=100):
    path = tempfile.mkdtemp(prefix="bloomidx_")
    w = IcebergWriter(
        path,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "cat", "type": "string", "required": False},
            {"id": 3, "name": "name", "type": "string", "required": False},
        ],
        [{"name": "cat", "transform": "identity", "source": "cat"}],
    )
    for ci in range(n_parts):
        c = chr(ord("a") + ci)
        # interleaved keys: every file spans nearly the full range, so
        # min/max bounds cannot prune a point lookup
        w.append(
            [
                {"k": i * n_parts + ci, "cat": c, "name": f"n{i * n_parts + ci}"}
                for i in range(rows_per)
            ]
        )
    return path, w


def test_point_lookup_prunes_to_one_file(spark):
    path, w = _indexed_table(spark)
    t = IcebergTable(path)
    assert len(t.plan_files([("k", "==", 123)])) == 6  # bounds useless
    write_file_blooms(w, spark, ["k", "name"])
    t = IcebergTable(path)
    assert len(t.plan_files([("k", "==", 123)])) == 1
    assert len(t.plan_files([("name", "==", "n123")])) == 1
    assert len(t.plan_files([("k", "==", 10**9)])) == 0  # absent value
    rows = t.to_df(spark, filters=[("k", "==", 123)]).collect()
    assert [(r.k, r.name) for r in rows] == [(123, "n123")]


def test_never_loses_a_match(spark):
    """Superset property over a key sample: the bloom-pruned read equals
    the unpruned filtered read for every probed key."""
    path, w = _indexed_table(spark)
    write_file_blooms(w, spark, ["k"])
    t = IcebergTable(path)
    full = {r.k for r in t.to_df(spark).collect()}
    for k in list(sorted(full))[::37] + [999999]:
        got = {r.k for r in t.to_df(spark, filters=[("k", "==", k)]).collect()}
        assert got == ({k} & full)


def test_blobless_new_file_always_kept(spark):
    path, w = _indexed_table(spark, n_parts=2)
    write_file_blooms(w, spark, ["k"])
    w.append([{"k": 10**6, "cat": "z", "name": "late"}])
    t = IcebergTable(path)
    rows = t.to_df(spark, filters=[("k", "==", 10**6)]).collect()
    assert [(r.k, r.cat) for r in rows] == [(10**6, "z")]
    # the new file has no blob → kept; old files bloom away
    assert len(t.plan_files([("k", "==", 10**6)])) == 1


def test_in_list_and_dnf_semantics(spark):
    path, w = _indexed_table(spark)
    write_file_blooms(w, spark, ["k"])
    t = IcebergTable(path)
    # 2 present keys in different files + 1 absent
    assert len(t.plan_files([("k", "in", [0, 1, 10**9])])) == 2
    # OR of two point lookups: union of surviving files
    dnf = [[("k", "==", 0)], [("k", "==", 1)]]
    assert len(t.plan_files(dnf)) == 2
    # a NULL in an in-list matches no rows (SQL semantics) — pruning on
    # the remaining values still fires, and the read stays exact
    assert len(t.plan_files([("k", "in", [0, None])])) == 1
    got = {r.k for r in t.to_df(spark, filters=[("k", "in", [0, None])]).collect()}
    assert got == {0}
    # comparison to a bare NULL is never true → everything prunes
    assert len(t.plan_files([("k", "==", None)])) == 0


def test_deletes_stay_sound(spark):
    path, w = _indexed_table(spark, n_parts=2, rows_per=10)
    write_file_blooms(w, spark, ["k"])
    w.delete_rows_equality([{"k": 4}])
    t = IcebergTable(path)
    assert t.to_df(spark, filters=[("k", "==", 4)]).count() == 0
    assert {r.k for r in t.to_df(spark, filters=[("k", "==", 6)]).collect()} == {6}


def test_ndv_stats_do_not_evict_bloom_entry(spark):
    from daskberg_spark.iceberg.writer import write_table_statistics

    path, w = _indexed_table(spark, n_parts=2, rows_per=10)
    write_file_blooms(w, spark, ["k"])
    write_table_statistics(w, spark)
    t = IcebergTable(path)
    kinds = {
        b.get("type")
        for e in t.table_statistics()
        for b in e.get("blob-metadata", [])
    }
    assert "daskberg-bloom-v1" in kinds
    assert "apache-datasketches-theta-v1" in kinds
    assert len(t.plan_files([("k", "==", 4)])) == 1  # index still live


def test_unsupported_column_type_refused(spark):
    path = tempfile.mkdtemp(prefix="bloomidx_")
    w = IcebergWriter(
        path,
        [{"id": 1, "name": "v", "type": "double", "required": False}],
        [],
    )
    w.append([{"v": 1.0}])
    with pytest.raises(ValueError, match="no bit-exact"):
        write_file_blooms(w, spark, ["v"])


def test_refresh_indexes_only_missing_files(spark):
    from daskberg_spark.iceberg.bloomindex import refresh_file_blooms

    path, w = _indexed_table(spark, n_parts=3, rows_per=20)
    write_file_blooms(w, spark, ["k"])
    before = {
        m["properties"]["data-file"]
        for e in IcebergTable(path).table_statistics()
        for m in e.get("blob-metadata", [])
    }
    w.append([{"k": 5000 + i, "cat": "z", "name": f"z{i}"} for i in range(5)])
    out = refresh_file_blooms(w, spark)
    assert out is not None
    t = IcebergTable(path)
    after = {
        m["properties"]["data-file"]
        for e in t.table_statistics()
        for m in e.get("blob-metadata", [])
    }
    assert len(after) == len(before) + 1  # exactly the new file indexed
    # the fresh blob prunes like the originals
    assert len(t.plan_files([("k", "==", 5003)])) == 1
    assert len(t.plan_files([("k", "==", 4999999)])) == 0
    # second refresh: nothing missing → no-op
    assert refresh_file_blooms(w, spark) is None


def test_refresh_noop_on_unindexed_table(spark):
    from daskberg_spark.iceberg.bloomindex import refresh_file_blooms

    path, w = _indexed_table(spark, n_parts=2, rows_per=5)
    assert refresh_file_blooms(w, spark) is None


def test_expire_reattaches_bloom_entry(spark):
    from daskberg_spark.iceberg.writer import expire_snapshots

    path, w = _indexed_table(spark, n_parts=2, rows_per=10)
    write_file_blooms(w, spark, ["k"])
    # several more commits so the bloom's creating snapshot can expire
    for i in range(3):
        w.append([{"k": 9000 + i, "cat": "m", "name": f"m{i}"}])
    expired = expire_snapshots(w, keep_last=2)
    assert expired  # the index's snapshot is gone...
    t = IcebergTable(path)
    kinds = {
        b.get("type")
        for e in t.table_statistics()
        for b in e.get("blob-metadata", [])
    }
    assert "daskberg-bloom-v1" in kinds  # ...but the entry reattached
    assert len(t.plan_files([("k", "==", 4)])) == 1  # and still prunes


def test_maintain_runs_bloom_refresh(spark):
    from daskberg_spark.iceberg.writer import maintain

    path, w = _indexed_table(spark, n_parts=2, rows_per=10)
    write_file_blooms(w, spark, ["k"])
    w.append([{"k": 7777, "cat": "q", "name": "late"}])
    report = maintain(w, spark, min_file_bytes=0)
    assert report["refresh_blooms"] is not None
    t = IcebergTable(path)
    assert len(t.plan_files([("k", "==", 7777)])) == 1
    # steady state: a second maintain finds nothing to index
    report2 = maintain(w, spark, min_file_bytes=0)
    assert report2["refresh_blooms"] is None


def test_xxhash64_timestamp_micros_exact(spark):
    """Regression: float total_seconds() rounds the last microsecond for
    ~1% of timestamps — a desync that silently prunes live files.  Sweep
    randomized microsecond-precision values against real Spark."""
    import datetime as dt
    import random as rnd

    r = rnd.Random(99)
    vals = [
        dt.datetime(1970, 1, 1)
        + dt.timedelta(microseconds=r.randint(0, 4_102_444_800_000_000))
        for _ in range(300)
    ]
    vals.append(dt.datetime(2005, 9, 5, 5, 39, 20, 765082))  # known rounder
    df = spark.createDataFrame(
        [(v,) for v in vals],
        T.StructType([T.StructField("c", T.TimestampNTZType(), True)]),
    )
    got = [row[0] for row in df.select(F.xxhash64("c")).collect()]
    exp = [
        to_signed64(hash_typed(v, "timestamp", SPARK_DEFAULT_SEED))
        for v in vals
    ]
    assert got == exp


def test_time_travel_read_not_pruned_by_later_deletes(spark):
    """Regression: blobs are built from RAW file contents, so a
    time-travel read to a snapshot where a later-deleted row was live
    still finds it."""
    path, w = _indexed_table(spark, n_parts=2, rows_per=10)
    s1 = w.head_snapshot["snapshot-id"]
    w.delete_rows_equality([{"k": 4}])
    write_file_blooms(w, spark, ["k"])  # index built AFTER the delete
    t = IcebergTable(path)
    assert t.to_df(spark, filters=[("k", "==", 4)]).count() == 0
    t.open_snapshot(snapshot_id=s1)
    rows = t.to_df(spark, filters=[("k", "==", 4)]).collect()
    assert [r.k for r in rows] == [4]  # alive at s1, blob must admit it


def test_probe_with_date_value_on_timestamp_column(spark):
    """Regression: a date filter value against an indexed timestamp
    column must hash the promoted midnight (and never crash)."""
    import datetime as dt

    path = tempfile.mkdtemp(prefix="bloomts_")
    w = IcebergWriter(
        path,
        [
            {"id": 1, "name": "ts", "type": "timestamp", "required": False},
            {"id": 2, "name": "k", "type": "long", "required": False},
        ],
        [],
    )
    w.append([{"ts": dt.datetime(2024, 1, 1), "k": 1}])
    w.append([{"ts": dt.datetime(2024, 6, 15, 12, 30), "k": 2}])
    write_file_blooms(w, spark, ["ts"])
    t = IcebergTable(path)
    rows = t.to_df(
        spark, filters=[("ts", "==", dt.date(2024, 1, 1))]
    ).collect()
    assert [r.k for r in rows] == [1]
    assert len(t.plan_files([("ts", "==", dt.date(2024, 1, 1))])) == 1


def test_sharded_build_identical_to_driver_build(spark, monkeypatch):
    """Above the shard gate, executors write the puffin shards and the
    driver never sees bitmap words — probing must behave identically to
    the driver-side build."""
    monkeypatch.setattr(bloomindex, "BLOOM_SHARD_FILE_GATE", 1)
    monkeypatch.setattr(bloomindex, "BLOOM_SHARD_PAIRS", 3)
    # 12 files, not 4: shard assignment is pmod(xxhash64(path), 3), and
    # 4 files collapse into ONE shard with P ≈ 3^-3 ≈ 4% — flaking the
    # >= 2-entries assertion (the same class the token twin hit in r12)
    path, w = _indexed_table(spark, n_parts=12, rows_per=50)
    write_file_blooms(w, spark, ["k", "name"])
    t = IcebergTable(path)
    # multiple shard entries landed in the statistics list
    bloom_entries = [
        e
        for e in t.table_statistics()
        if any(
            b.get("type") == "daskberg-bloom-v1"
            for b in e.get("blob-metadata", [])
        )
    ]
    assert len(bloom_entries) >= 2
    assert len(t.plan_files([("k", "==", 101)])) == 1
    assert len(t.plan_files([("name", "==", "n101")])) == 1
    assert len(t.plan_files([("k", "==", 10**9)])) == 0
    full = {r.k for r in t.to_df(spark).collect()}
    for k in list(sorted(full))[::29] + [888888]:
        got = {
            r.k for r in t.to_df(spark, filters=[("k", "==", k)]).collect()
        }
        assert got == ({k} & full)


def test_join_prune_composes_with_bloom_index(spark):
    """join_pruned_df turns dim keys into a planner `in` filter, and
    plan_files bloom-probes `in` predicates — so an indexed fact table
    gets index-powered dynamic partition pruning with NO extra wiring.
    Keys are interleaved across files: bounds alone prune nothing."""
    from daskberg_spark.iceberg.scan import join_pruned_df

    path, w = _indexed_table(spark, n_parts=6, rows_per=100)
    write_file_blooms(w, spark, ["k"])
    t = IcebergTable(path)
    dim = spark.createDataFrame([(0,), (7,)], "dk bigint")  # 2 keys → 2 files
    out = join_pruned_df(t, spark, dim, "k", "dk")
    rows = sorted(r.k for r in out.collect())
    assert rows == [0, 7]
    assert t.last_scan["files_scanned"] == 2
    assert t.last_scan["files_live"] == 6


def test_xxhash64_randomized_strings_vs_spark(spark):
    """Randomized unicode strings across every length band (empty, tail
    bytes, 4/8-byte boundaries, 32-byte stripes) against real Spark —
    guards the streaming XXH64 path's stripe/tail handling."""
    import random as rnd

    r = rnd.Random(4242)
    alphabet = "abz09 _-é漢🎉 \t"
    vals = [""]
    for n in [1, 2, 3, 4, 5, 7, 8, 9, 15, 16, 17, 31, 32, 33, 63, 64, 100]:
        for _ in range(6):
            vals.append("".join(r.choice(alphabet) for _ in range(n)))
    df = spark.createDataFrame([(v,) for v in vals], "c string")
    got = [row[0] for row in df.select(F.xxhash64("c")).collect()]
    exp = [
        to_signed64(hash_typed(v, "string", SPARK_DEFAULT_SEED))
        for v in vals
    ]
    assert got == exp


# ---------------------------------------------------------------------------
# Token Bloom index (keyword-search file pruning)


def _token_table(spark):
    """Three single-file shards with disjoint-ish vocabularies, plus a
    NULL text row (must not crash the build or match any token)."""
    path = tempfile.mkdtemp(prefix="tokbloom_")
    w = IcebergWriter(
        path,
        [
            {"id": 1, "name": "doc_id", "type": "long", "required": False},
            {"id": 2, "name": "text", "type": "string", "required": False},
            {"id": 3, "name": "shard", "type": "string", "required": False},
        ],
        [{"name": "shard", "transform": "identity", "source": "shard"}],
    )
    corpus = {
        "a": ["alpha beta gamma", "beta  delta\talpha", None],
        "b": ["delta epsilon", "Epsilon ZETA beta"],
        "c": ["omega psi", "psi chi omega"],
    }
    i = 0
    for s in sorted(corpus):
        w.append(
            [
                {"doc_id": (i := i + 1), "text": t, "shard": s}
                for t in corpus[s]
            ]
        )
    return path, w, corpus


def test_token_search_prunes_and_matches(spark):
    from daskberg_spark.iceberg.bloomindex import write_token_blooms

    path, w, corpus = _token_table(spark)
    write_token_blooms(w, spark, ["text"])
    t = IcebergTable(path)
    # 'zeta' lives only in shard b (and only UPPERCASED in the data —
    # the index and residual both lowercase)
    df = t.to_df(spark, token_filters=[("text", "zeta")])
    rows = df.collect()
    assert [r.shard for r in rows] == ["b"]
    assert t.last_scan["files_scanned"] == 1
    assert t.last_scan["files_live"] == 3
    # an uppercase PROBE normalizes too
    assert t.to_df(spark, token_filters=[("text", "ZeTa")]).count() == 1
    # absent token → zero files planned, zero rows
    assert t.to_df(spark, token_filters=[("text", "nothere")]).count() == 0
    assert t.last_scan["files_scanned"] == 0
    # AND semantics: beta AND delta → only docs with both
    both = t.to_df(
        spark, token_filters=[("text", "beta"), ("text", "delta")]
    )
    assert {r.doc_id for r in both.collect()} == {2}
    # shards a and b each hold both tokens somewhere; only c prunes
    assert t.last_scan["files_scanned"] == 2


def test_token_search_never_loses_a_match(spark):
    from daskberg_spark.iceberg.bloomindex import write_token_blooms

    path, w, corpus = _token_table(spark)
    write_token_blooms(w, spark, ["text"])
    t = IcebergTable(path)
    vocab = {
        tok
        for texts in corpus.values()
        for txt in texts
        if txt
        for tok in txt.lower().split()
    }
    full = t.to_df(spark).collect()
    for tok in sorted(vocab):
        expect = {
            r.doc_id for r in full if tok in (r.text or "").lower().split()
        }
        got = {
            r.doc_id
            for r in t.to_df(spark, token_filters=[("text", tok)]).collect()
        }
        assert got == expect, tok


def test_token_blobless_file_always_kept(spark):
    from daskberg_spark.iceberg.bloomindex import write_token_blooms

    path, w, _ = _token_table(spark)
    write_token_blooms(w, spark, ["text"])
    w.append([{"doc_id": 99, "text": "unique newword", "shard": "z"}])
    t = IcebergTable(path)
    rows = t.to_df(spark, token_filters=[("text", "newword")]).collect()
    assert [r.doc_id for r in rows] == [99]
    assert t.last_scan["files_scanned"] == 1  # old shards bloom away


def test_token_bloom_validation(spark):
    from daskberg_spark.iceberg.bloomindex import write_token_blooms

    path, w, _ = _token_table(spark)
    with pytest.raises(ValueError, match="string columns only"):
        write_token_blooms(w, spark, ["doc_id"])
    write_token_blooms(w, spark, ["text"])
    t = IcebergTable(path)
    with pytest.raises(ValueError, match="not a string"):
        t.to_df(spark, token_filters=[("doc_id", "x")])
    with pytest.raises(ValueError, match="whitespace"):
        t.to_df(spark, token_filters=[("text", "two words")])
    with pytest.raises(ValueError, match="whitespace"):
        t.to_df(spark, token_filters=[("text", "")])


def test_token_and_value_blooms_coexist(spark):
    """Both index flavors on one table: each prunes its own predicate
    shape, and a full rebuild of one never evicts the other."""
    from daskberg_spark.iceberg.bloomindex import (
        BLOOM_BLOB_TYPE,
        TOKEN_BLOOM_BLOB_TYPE,
        write_token_blooms,
    )

    path, w, _ = _token_table(spark)
    write_file_blooms(w, spark, ["shard"])
    write_token_blooms(w, spark, ["text"])
    # rebuilding the VALUE index must keep the token entries
    write_file_blooms(w, spark, ["shard"])
    t = IcebergTable(path)
    types = {
        m["type"]
        for e in t.table_statistics()
        for m in e.get("blob-metadata", [])
    }
    assert {BLOOM_BLOB_TYPE, TOKEN_BLOOM_BLOB_TYPE} <= types
    assert len(t.plan_files([("shard", "==", "b")])) == 1
    df = t.to_df(spark, token_filters=[("text", "omega")])
    assert df.count() == 2
    assert t.last_scan["files_scanned"] == 1


def test_refresh_covers_token_blooms(spark):
    from daskberg_spark.iceberg.bloomindex import (
        refresh_file_blooms,
        write_token_blooms,
    )

    path, w, _ = _token_table(spark)
    write_token_blooms(w, spark, ["text"])
    w.append([{"doc_id": 50, "text": "fresh words", "shard": "d"}])
    assert refresh_file_blooms(w, spark) is not None
    t = IcebergTable(path)
    df = t.to_df(spark, token_filters=[("text", "fresh")])
    assert [r.doc_id for r in df.collect()] == [50]
    # the refreshed blob PRUNES (not merely keeps) the new file
    assert t.last_scan["files_scanned"] == 1
    assert t.last_scan["files_live"] == 4
    assert refresh_file_blooms(w, spark) is None  # steady state


def test_token_bloom_tokenizer_revision_guard(spark):
    """A blob carrying an unknown tokenizer id must never prune — it
    hashed different units than this probe."""
    from daskberg_spark.iceberg.bloomindex import write_token_blooms

    path, w, _ = _token_table(spark)
    write_token_blooms(w, spark, ["text"])
    # forge a future tokenizer revision on every blob
    for e in w.statistics:
        for m in e.get("blob-metadata", []):
            if "tokenizer" in (m.get("properties") or {}):
                m["properties"]["tokenizer"] = "whitespace-lower-v99"
    w._publish()
    t = IcebergTable(path)
    df = t.to_df(spark, token_filters=[("text", "zeta")])
    assert df.count() == 1  # residual still exact
    assert t.last_scan["files_scanned"] == 3  # no pruning claimed


def test_token_sharded_build_identical(spark, monkeypatch):
    """Token blooms compose with the executor-sharded build path: above
    the gate, shards carry the tokenizer property and probe identically
    to the driver-side build."""
    from daskberg_spark.iceberg.bloomindex import (
        TOKEN_BLOOM_BLOB_TYPE,
        write_token_blooms,
    )

    monkeypatch.setattr(bloomindex, "BLOOM_SHARD_FILE_GATE", 1)
    monkeypatch.setattr(bloomindex, "BLOOM_SHARD_PAIRS", 2)
    path, w, corpus = _token_table(spark)
    # shard assignment is pmod(xxhash64(file_path), n_shards) — with
    # only 3 files and 2 shards, all three can hash into ONE shard 25%
    # of the time (tempdir paths differ per run).  Pad with filler
    # files so "≥2 non-empty shards" holds with ~6^-11 flake odds —
    # the same law-of-large-numbers argument that makes hash sharding
    # sound at real (1000+) file counts.
    for i in range(9):
        w.append(
            [{"doc_id": 100 + i, "text": f"filler w{i}", "shard": "a"}]
        )
    write_token_blooms(w, spark, ["text"])
    t = IcebergTable(path)
    entries = [
        e
        for e in t.table_statistics()
        if any(
            b.get("type") == TOKEN_BLOOM_BLOB_TYPE
            for b in e.get("blob-metadata", [])
        )
    ]
    assert len(entries) >= 2  # executor shards, not one driver puffin
    for e in entries:
        for b in e["blob-metadata"]:
            assert b["properties"]["tokenizer"] == "whitespace-lower-v1"
    df = t.to_df(spark, token_filters=[("text", "zeta")])
    assert [r.shard for r in df.collect()] == ["b"]
    assert t.last_scan["files_scanned"] == 1
    assert t.to_df(spark, token_filters=[("text", "nothere")]).count() == 0
    assert t.last_scan["files_scanned"] == 0


def test_bloom_entries_consolidate(spark, tmp_path):
    """Each incremental refresh appends a bloom entry; past the cap the
    refresh repacks ONE consolidated live-files entry per flavor (bytes
    copied verbatim) and pruning answers are unchanged."""
    from daskberg_spark.iceberg.bloomindex import (
        BLOOM_BLOB_TYPE,
        TOKEN_BLOOM_BLOB_TYPE,
        refresh_file_blooms,
        write_file_blooms,
        write_token_blooms,
    )
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "bc"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "txt", "type": "string", "required": False},
        ],
    )
    w.append([{"k": i, "txt": f"alpha w{i}"} for i in range(20)])
    write_file_blooms(w, spark, ["k"])
    write_token_blooms(w, spark, ["txt"])
    for r in range(10):
        w.append(
            [{"k": 1000 * (r + 1) + i, "txt": f"beta w{r}"} for i in range(10)]
        )
        refresh_file_blooms(w, spark)

    flavors = (BLOOM_BLOB_TYPE, TOKEN_BLOOM_BLOB_TYPE)
    n = sum(
        1
        for e in w.statistics
        if any(b.get("type") in flavors for b in e.get("blob-metadata", []))
    )
    assert n <= 9, n
    t = IcebergTable(w.path)
    # value-bloom point lookup still prunes to the one holding file
    files = t.plan_files([("k", "==", 3005)])
    assert len(files) == 1, len(files)
    # token search still prunes: 'alpha' lives only in the first file
    import daskberg_spark.iceberg.scan  # noqa: F401

    df = t.to_df(spark, token_filters=[("txt", "alpha")])
    assert t.last_scan["files_scanned"] == 1, t.last_scan
    assert df.count() == 20
    # a further refresh after consolidation indexes nothing new
    assert refresh_file_blooms(w, spark) is None
