"""BLAKE3 kernel (functions/b3_native.py): published-vector pins,
cross-parity with the Python spec oracle (tests/oracles.py), and the
entity_hashes blake3 column.

The two implementations are deliberately structured differently
(recursive subtree split in C, spec chunk-stack in Python) so a
transcription slip in one cannot silently agree with the other; the
published vectors anchor both to the real algorithm.
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from entityframe_spark.functions import b3_native
from tests.oracles import blake3_hex_py

# Official test vectors (BLAKE3 repo test_vectors.json: input byte i
# is i % 251; digests truncated to the default 32 bytes).
_VECTORS = {
    0: "af1349b9f5f9a1a6a0404dea36dcc9499bcb25c9adc112b7cc9a93cae41f3262",
    1: "2d3adedff11b61f14c886e35afa036736dcd87a74d27b5c1510225d0f592e213",
}


def _msg(n: int) -> bytes:
    return bytes(i % 251 for i in range(n))


@pytest.mark.parametrize("length,hexdigest", sorted(_VECTORS.items()))
def test_published_vectors_python(length, hexdigest):
    assert blake3_hex_py(_msg(length)) == hexdigest


@pytest.mark.parametrize("length,hexdigest", sorted(_VECTORS.items()))
def test_published_vectors_batch(length, hexdigest):
    assert b3_native.blake3_hex_batch([_msg(length)]) == [hexdigest]


def test_wheel_parity_if_installed():
    try:
        import blake3
    except ImportError:
        pytest.skip("blake3 wheel not installed in this container")
    for n in (0, 1, 65, 1024, 1025, 3072, 5000):
        m = _msg(n)
        assert blake3_hex_py(m) == blake3.blake3(m).hexdigest()


@pytest.mark.parametrize(
    "length",
    [0, 1, 63, 64, 65, 127, 128, 1023, 1024, 1025, 2047, 2048, 2049,
     3072, 3073, 4096, 5000, 8192, 10000, 31744, 65536],
)
def test_c_python_cross_parity_boundaries(length):
    """Every chunk/block/tree boundary: the recursive-split C kernel
    and the chunk-stack Python implementation must agree."""
    m = _msg(length)
    assert b3_native.blake3_hex_batch([m]) == [blake3_hex_py(m)]


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_c_python_cross_parity_random(data):
    assert b3_native.blake3_hex_batch([data]) == [blake3_hex_py(data)]


def test_batch_packing_independent_of_neighbors():
    """The batch API packs all strings into one buffer; each digest
    must depend only on its own slice (offset bookkeeping)."""
    vals = [b"", _msg(1), b"hello", _msg(1025), b"", _msg(70)]
    got = b3_native.blake3_hex_batch(vals)
    assert got == [blake3_hex_py(v) for v in vals]
    assert got[0] == _VECTORS[0] and got[1] == _VECTORS[1]


def test_entity_hashes_blake3_column(spark):
    """entity_hashes(algorithms=('blake3',)) works without the wheel:
    digest of the sorted-member canonical string 'a,b'."""
    from entityframe_spark.functions.hashing import entity_hashes

    records = spark.createDataFrame(
        [(0, "b"), (1, "a"), (2, "c")], "record_id long, key string"
    )
    part = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 2)], "record_id long, cluster_id long"
    )
    rows = {
        r["cluster_id"]: r["blake3"]
        for r in entity_hashes(part, records, algorithms=("blake3",)).collect()
    }
    assert rows[10] == blake3_hex_py(b"a,b")
    assert rows[2] == blake3_hex_py(b"c")
