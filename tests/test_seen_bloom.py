"""Bloom prefilter unit tests (numpy-only — no Spark session)."""

import hashlib
import os

import numpy as np
import pandas as pd
import pytest

from crabspark.seen import Bloom, _params


def sha1s(n, prefix=""):
    return np.array(
        [hashlib.sha1(f"{prefix}{i}".encode()).hexdigest() for i in range(n)],
        dtype=object,
    )


def test_no_false_negatives():
    b = Bloom(capacity=10_000, fpp=0.01)
    keys = sha1s(5_000)
    b.add_array(keys)
    assert b.might_contain(pd.Series(keys)).all()


def test_fpp_bounded():
    b = Bloom(capacity=10_000, fpp=0.01)
    b.add_array(sha1s(10_000))
    other = sha1s(20_000, prefix="other-")
    fp = b.might_contain(pd.Series(other)).mean()
    assert fp < 0.03  # ~1% target with slack


def test_or_merge_equals_union():
    a = Bloom(capacity=1_000, fpp=0.01)
    b = Bloom(capacity=1_000, fpp=0.01)
    ka, kb = sha1s(300, "a"), sha1s(300, "b")
    a.add_array(ka)
    b.add_array(kb)
    a.or_bitmap(b.bits.tobytes())
    assert a.might_contain(pd.Series(np.concatenate([ka, kb]))).all()


def test_save_load_roundtrip(tmp_path):
    b = Bloom(capacity=1_000, fpp=0.01)
    keys = sha1s(500)
    b.add_array(keys)
    p = str(tmp_path / "bloom.npy")
    b.save(p)
    b2 = Bloom.load(p, 1_000, 0.01)
    assert (b2.bits == b.bits).all()
    assert b2.might_contain(pd.Series(keys)).all()


def test_params_sane():
    m, k = _params(1_000_000, 0.01)
    assert m % 64 == 0
    assert 1 <= k <= 8
    assert m / 1_000_000 > 8  # ~9.6 bits/key at 1% fpp


def test_empty_inputs():
    b = Bloom(capacity=100, fpp=0.01)
    b.add_array(np.array([], dtype=object))
    out = b.might_contain(pd.Series([], dtype=object))
    assert len(out) == 0


def test_load_keeps_saved_geometry(tmp_path):
    # resume with a CHANGED capacity must honor the saved bitmap's (m, k)
    b = Bloom(capacity=1_000, fpp=0.01)
    keys = sha1s(800)
    b.add_array(keys)
    p = str(tmp_path / "bloom.npy")
    b.save(p)
    b2 = Bloom.load(p, capacity=4_000_000, fpp=0.001)  # different config
    assert (b2.m, b2.k) == (b.m, b.k)
    assert b2.might_contain(pd.Series(keys)).all()  # no false negatives


def test_uppercase_hex_probes_same_bits():
    """sha1 hex may arrive uppercase (external feeds): the vectorized
    nibble decode must fold case, not wrap negative under uint64 and
    probe garbage bit positions."""
    from crabspark.seen import _positions

    digests = [
        hashlib.sha1(f"u{i}".encode()).hexdigest() for i in range(50)
    ]
    lo = _positions(np.array(digests, dtype="U40"), 1 << 16, 4)
    hi = _positions(
        np.array([d.upper() for d in digests], dtype="U40"), 1 << 16, 4
    )
    assert (lo == hi).all()
    b = Bloom(1000, 0.01)
    b.add_array(np.array([d.upper() for d in digests]))
    assert b.might_contain(pd.Series(digests)).all()


def test_scatter_hybrid_paths_bit_identical():
    """_scatter_bits routes small batches through O(positions)
    bitwise_or.at and big ones through the O(m) bool-scatter+packbits
    pass (crossover ~m/256). The same keys must set the same bits no
    matter how an insert is chunked across that threshold."""
    whole = Bloom(capacity=1_600_000, fpp=0.01)
    chunked = Bloom(capacity=1_600_000, fpp=0.01)
    keys = sha1s(300_000)  # one insert above the crossover for this m
    whole.add_array(keys)
    for chunk in np.array_split(keys, 50):  # each chunk below it
        chunked.add_array(chunk)
    assert (whole.bits == chunked.bits).all()
    assert whole.might_contain(pd.Series(keys[:1000])).all()


def test_cuckoo_snapshot_fails_clearly(tmp_path):
    """Stores written by the removed cuckoo backend hold a "kind" entry and
    no bits; resuming one must say so instead of raising KeyError."""
    path = str(tmp_path / "bloom-000003.npy")
    np.savez(path + ".tmp", kind=np.array(["cuckoo"]),
             table=np.zeros((4, 4), dtype=np.uint16), nb=np.int64(4))
    os.replace(path + ".tmp.npz", path)
    with pytest.raises(ValueError, match="cuckoo"):
        Bloom.load(path, capacity=1_000, fpp=0.01)
