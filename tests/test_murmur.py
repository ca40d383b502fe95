"""Hash-parity tests against golden vectors generated from Guava 33.4.8
(``Hashing.murmur3_128().hashUnencodedChars(s)`` — identical semantics to
the charset-less ``hashString`` the reference calls at
AbstractClickhouseLoaderMapper.java:277 / ShardingTest.java:19-21)."""

from __future__ import annotations

import pytest

from clickhouse_hdfs_loader_spark.functions.murmur import (
    guava_hash_string_as_int,
    guava_shard_code,
    guava_shard_index,
    murmur3_128,
)

# (key, Guava asInt(), full 16-byte digest hex)
GOLDEN = [
    ("20170107", 1819975014, "669d7a6c383944e9b7f33be5fafc6400"),
    ("", 0, "00000000000000000000000000000000"),
    ("a", 189700285, "bd984e0b5098a6967d6754c7bfc978b2"),
    ("hello", -507522169, "87d3bfe18fe12eeec436c3d86272927b"),
    ("世界", 1032436867, "83bc893db020552eccb67f3744d3b09e"),
    ("弹幕", 973855519, "1fdb0b3a532d61002902e183027fdf97"),
    ("key-0", 168843417, "9958100a7db88ba9bd352af0b299e99b"),
    ("key-1", -1021507741, "63071dc3f518de8c45a626e5049056ac"),
    ("key-2", 1190433459, "b392f446ae48993ccb4d45a179913c65"),
    ("customer#000000001", -782822026, "761557d12fe57684fe0b8942ffad3db6"),
    ("BUILDING", 1361632218, "dadb28511673eae32b9854ce1240fd45"),
    ("1992-01-02", -471861099, "95f8dfe3e525b0b6e62b4a87c365b126"),
    ("abcdefghijklmnop", -412909667, "9d7f63e7e34cfff256f0ebd66acaecef"),
    ("0123456789012345678901234567890123456789", -334189072,
     "f0ad14ec962d068f9a00dc001f2b5a0d"),
    ("x", 2106171254, "769f897d21d56476ad01edc930becff0"),
    ("xy", -710921128, "5834a0d52896542facb6edf78062d6ba"),
    ("xyz", -291728033, "5f959ceeda5fc9921dc2dc4b37391e2a"),
    ("xyzw", 219357651, "d321130d07763b3f4442fc14e2b1bd40"),
    ("éàü", -1496835070, "021cc8a6d24b0ac6dc4b3971bb63ff28"),
    ("emoji😀", -1028446089, "7728b3c2955a2d82f2a5f5798c4de9b9"),
    ("tab\tsep", -566218346, "963140deef67090941850a8eb211cc1e"),
    ("-42", 509530271, "9fd05e1ec97ad888c86e868869697d33"),
    ("9999999999", -1622556211, "cdc1499fa9e6a15a39204ba9b9297eb1"),
]


@pytest.mark.parametrize("key,as_int,digest_hex", GOLDEN)
def test_guava_parity(key, as_int, digest_hex):
    assert murmur3_128(key.encode("utf-16-le")).hex() == digest_hex
    assert guava_hash_string_as_int(key) == as_int
    assert guava_shard_code(key) == as_int & 0x7FFFFFFF


def test_sharding_test_constant():
    """ShardingTest.java:19-21 — key "20170107", 3 equal-weight shards."""
    assert guava_shard_index("20170107", 3) == 1819975014 % 3 == 0


def test_shard_code_non_negative():
    for key, _, _ in GOLDEN:
        assert 0 <= guava_shard_code(key) <= 0x7FFFFFFF


def test_numpy_parity_with_scalar_hypothesis():
    """Vectorized murmur (functions/murmur_np) is bit-exact with the
    golden-verified scalar implementation across arbitrary unicode, fed as
    a list and as sliced (non-zero offset) ``string`` and ``large_string``
    Arrow arrays."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.functions.murmur_np import (
        guava_shard_codes,
    )

    text = st.text(max_size=48)

    @given(st.lists(text, min_size=1, max_size=50), text, text)
    @settings(max_examples=150, deadline=None)
    def check(keys, before, after):
        want = [guava_shard_code(k) for k in keys]
        assert list(guava_shard_codes(keys)) == want
        for typ in (pa.string(), pa.large_string()):
            arr = pa.array([before, *keys, after], typ).slice(1, len(keys))
            assert list(guava_shard_codes(arr)) == want

    check()


def test_numpy_parity_on_goldens():
    from clickhouse_hdfs_loader_spark.functions.murmur_np import (
        guava_shard_codes,
    )
    keys = [k for k, _, _ in GOLDEN]
    got = list(guava_shard_codes(keys))
    assert got == [a & 0x7FFFFFFF for _, a, _ in GOLDEN]


def test_numpy_bulk_encode_fallback_non_bmp():
    """Non-BMP keys (1 code point, 2 UTF-16 code units from a 4-byte UTF-8
    lead) take the same bulk-encode path as every key and stay bit-exact;
    mixed batches included."""
    from clickhouse_hdfs_loader_spark.functions.murmur_np import (
        guava_shard_codes,
    )
    keys = ["😀", "a😀b", "弹幕", "plain", "", "𝄞clef"]
    assert list(guava_shard_codes(keys)) == \
        [guava_shard_code(k) for k in keys]
