"""S2 — the brotli input codec, exercised end-to-end.

The reference's real inputs are ``.br`` files (process_snapshot.py:324-342).
They decode in one pass through pyarrow's streaming brotli reader.  The
literal vectors below are hand-derived from RFC 7932, independent of any
encoder, so encoder and decoder cannot be wrong together.
"""

import random

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_bus_siri_etl_spark.metrics import SparkJobs
from open_bus_siri_etl_spark.sources.snapshots import (
    brotli_compress,
    brotli_decompress,
    read_snapshots_brotli,
    write_snapshot_fixture,
)

from .fixtures import TEST_SNAPSHOT_DATA, TEST_SNAPSHOT_ID


# -- RFC 7932 literal vectors ------------------------------------------------


def test_decode_known_empty_streams():
    # 0x3b: WBITS=22, ISLAST=1, ISLASTEMPTY=1 — the canonical empty stream
    # real brotli emits; 0x06: same with WBITS=16.
    assert brotli_decompress(b"\x3b") == b""
    assert brotli_decompress(b"\x06") == b""


def test_decode_hand_built_stored_stream():
    # bits (LSB-first): 0 WBITS=16 | 0 ISLAST | 00 MNIBBLES=4 |
    # 16x0 MLEN-1=0 | 1 ISUNCOMPRESSED | pad-to-byte | 'A' | 1 ISLAST,
    # 1 ISLASTEMPTY  →  00 00 10 41 03
    assert brotli_decompress(b"\x00\x00\x10\x41\x03") == b"A"


def test_entropy_coded_stream_raises():
    # ISLAST=1 meta-block with MNIBBLES=4 whose entropy-coded content is cut
    # off: not a valid stream
    with pytest.raises(OSError):
        brotli_decompress(b"\x02\x00\x00\x00")


def test_metadata_metablock_skipped():
    # a metadata meta-block between the header and a stored block:
    # 0 WBITS | 0 ISLAST | 11 MNIBBLES=0 | 0 reserved | 01 MSKIPBYTES=1 |
    # 8 bits MSKIPLEN-1=1 | pad | 2 skipped bytes (de ad), then a stored
    # block for b"hi" (0 ISLAST | 00 MNIBBLES=4 | MLEN-1=1 | 1
    # ISUNCOMPRESSED | pad | "hi") and ISLAST=1, ISLASTEMPTY=1
    assert brotli_decompress(b"\xac\x00\xde\xad\x08\x00\x08hi\x03") == b"hi"


# -- full-format round trips -------------------------------------------------


def test_full_format_decode_entropy_coded():
    """Real huffman/dictionary-coded streams (what the reference's S3 bucket
    actually serves) decode."""
    # compressible text → the encoder emits entropy-coded meta-blocks
    data = b'{"Siri": {"ServiceDelivery": {"StopMonitoringDelivery": []}}}' * 500
    comp = pa.Codec("brotli").compress(data, asbytes=True)
    assert len(comp) < len(data) // 10  # genuinely entropy-coded, not stored
    assert brotli_decompress(comp) == data


def test_roundtrip_multi_metablock():
    # 150 KiB of incompressible bytes: the encoder spreads them over several
    # meta-blocks, so the first one's ISLAST bit (right after the 1-, 4- or
    # 7-bit WBITS field) is 0
    data = random.Random(0).randbytes(150 * 1024)
    comp = brotli_compress(data)
    head = comp[0]
    wbits_len = 7 if head & 0x0F == 1 else 4 if head & 1 else 1
    assert not head >> wbits_len & 1
    assert brotli_decompress(comp) == data


@settings(max_examples=25, deadline=None)
@given(st.binary(max_size=2000))
def test_full_format_roundtrip_property(data):
    """brotli_compress→brotli_decompress round trip, incl. the empty payload
    and incompressible random bytes."""
    assert brotli_decompress(brotli_compress(data)) == data


# -- end-to-end through the Spark reader and the golden pipeline -------------


def test_read_snapshots_brotli_e2e(spark, tmp_path):
    landing = str(tmp_path / "landing")
    write_snapshot_fixture(landing, TEST_SNAPSHOT_ID, TEST_SNAPSHOT_DATA, compressed=True)
    df = read_snapshots_brotli(spark, landing)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["snapshot_id"] == TEST_SNAPSHOT_ID
    visits = rows[0]["Siri"]["ServiceDelivery"]["StopMonitoringDelivery"][0][
        "MonitoredStopVisit"
    ]
    assert len(visits) == 5  # 3 valid + 2 invalid


@pytest.mark.slow
def test_process_snapshot_from_brotli_golden(spark, warehouse, tmp_path):
    """The reference's native input codec through the full golden pipeline:
    3 facts, 2 dead letters, dims 3/3/3/3, control row loaded."""
    from open_bus_siri_etl_spark import control
    from open_bus_siri_etl_spark.pipeline import process_snapshot

    landing = str(tmp_path / "landing")
    write_snapshot_fixture(landing, TEST_SNAPSHOT_ID, TEST_SNAPSHOT_DATA, compressed=True)
    stats = process_snapshot(spark, warehouse, TEST_SNAPSHOT_ID, landing)
    assert stats["num_successful"] == 3 and stats["num_failed"] == 2
    assert warehouse.read("siri_vehicle_location").count() == 3
    for t in ("siri_route", "siri_stop", "siri_ride", "siri_ride_stop"):
        assert warehouse.read(t).count() == 3
    row = control.get_control_row(warehouse, TEST_SNAPSHOT_ID)
    assert row["etl_status"] == control.ETL_LOADED


def test_brotli_frame_build_launches_no_job(spark, tmp_path):
    """The decoded rows carry an explicit schema: building the frame infers
    nothing, so no file is decoded before the frame's own action runs."""
    landing = str(tmp_path / "landing")
    paths = [
        write_snapshot_fixture(landing, sid, TEST_SNAPSHOT_DATA, compressed=True)
        for sid in (TEST_SNAPSHOT_ID, "2019/05/05/16/01")
    ]
    with SparkJobs(spark) as jobs:
        read_snapshots_brotli(spark, paths)
    assert jobs.n == 0
