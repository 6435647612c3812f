"""Portable cross-engine hashing (operators/dedup.py).

The portable 60-bit hash family exists so that MinHash/SimHash results
can be verified bit-for-bit by ANY md5-capable engine (the driver's
DuckDB oracle re-runs the identical arithmetic).  These tests pin:

* portable_hash60 == the top 15 md5 hex chars as an int (python ref)
* affine_params determinism + bounds (no int64 overflow possible)
* simhash portable fingerprints fit in 60 bits
* multimodal frame slices are contiguous and cover the payload
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.operators.dedup import (
    PORTABLE_MOD,
    affine_params,
    minhash_lsh_candidates,
    minhash_signatures,
    portable_hash60,
    simhash,
)


def _py_portable60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_portable_hash60_matches_python_md5(spark):
    samples = ["", "a", "hello world", "русскій текстъ", "x" * 200]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", portable_hash60(F.col("s")).alias("h")).collect()}
    for s in samples:
        assert got[s] == _py_portable60(s), s


def test_affine_params_deterministic_and_bounded():
    p1, p2 = affine_params(64), affine_params(64)
    assert p1 == p2
    for a, b, c in p1:
        assert 1 <= a < PORTABLE_MOD and 1 <= b < PORTABLE_MOD and 0 <= c < PORTABLE_MOD
        # max intermediate: a*hi + b*lo + c with hi,lo < 2^30 stays < 2^63
        assert a * ((1 << 30) - 1) + b * ((1 << 30) - 1) + c < (1 << 63)


def test_simhash_portable_fits_60_bits(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "entirely different words here")],
        ["doc_id", "text"],
    )
    rows = {r["doc"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    assert all(0 <= v < (1 << 60) for v in rows.values())
    # identical text -> identical fingerprint; different text -> different
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_minhash_portable_identical_docs_collide_all_bands(spark):
    df = spark.createDataFrame(
        [(1, "one two three four five six seven"), (2, "one two three four five six seven"),
         (3, "totally unrelated content with other words entirely")],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(df, "doc_id", "text", k=3, num_hashes=16)
    cands = minhash_lsh_candidates(sigs, bands=4, rows_per_band=4).collect()
    pairs = {(r["id_a"], r["id_b"]): r["n_bands_matched"] for r in cands}
    assert pairs.get((1, 2)) == 4  # identical docs agree on every band
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_signature_stays_in_portable_range(spark):
    df = spark.createDataFrame([(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"])
    sig = minhash_signatures(df, "doc_id", "text", k=2, num_hashes=4).collect()[0]["signature"]
    assert len(sig) == 4
    assert all(0 <= v < PORTABLE_MOD for v in sig)  # the 31-bit affine family's range


def test_frame_slices_contiguous_cover_payload():
    # python-level contract of the contiguous slicing the oracle mirrors
    data = bytes(range(97))
    for n in range(1, 8):
        chunks = [data[i * len(data) // n : (i + 1) * len(data) // n] for i in range(n)]
        assert b"".join(chunks) == data


@pytest.mark.parametrize("text", ["", "abc", "hello world " * 10])
def test_multimodal_decode_features_are_exact_ratios(spark, text):
    from factory_inspectors_db_etl_spark.operators.multimodal import (
        decode_and_featurize,
        with_payload,
    )

    df = with_payload(spark.createDataFrame([(1, text)], ["doc_id", "text"]))
    row = decode_and_featurize(df).collect()[0]
    data = text.encode()
    assert row["n_bytes"] == len(data)
    assert row["payload_md5"] == hashlib.md5(data).hexdigest()
    if data:
        assert row["mean_byte"] == sum(data) / len(data)
        expected = [sum(1 for b in data if b % 8 == j) / len(data) for j in range(8)]
        assert row["features"] == expected  # float64 end-to-end, exact
    else:
        assert row["features"] == [0.0] * 8
