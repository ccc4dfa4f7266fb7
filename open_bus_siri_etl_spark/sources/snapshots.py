"""Snapshot readers — S1 (local scan), S2 (compressed download), S3 (listing).

The reference reads one brotli-compressed JSON document per minute, id
``YYYY/MM/DD/HH/MM`` (reference process_snapshot.py:324-349); discovery walks
S3 prefixes year→month→day→hour (update_pending_snapshots.py:15-44).

Spark-first: snapshots land under ``<root>/YYYY/MM/DD/HH/MM.json`` (or
``.json.br``); a multi-file ``spark.read.json`` with the explicit schema reads
any number of snapshots in one job — Spark schedules per-file tasks across
executors, which is what the reference's 4-process pool approximated (X1).
``snapshot_id`` is recovered from the file path, so per-snapshot status
granularity survives bulk reads (SURVEY §3 EP3).

Directory layout = partition pruning: a path glob ``<root>/2024/01/*/ * /
*.json`` prunes at the listing level exactly like the reference's prefix
probing.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import SIRI_SNAPSHOT_SCHEMA

try:  # prefer the real module when installed (full-format decode)
    import brotli  # type: ignore
except ImportError:  # pragma: no cover
    brotli = None

try:  # pyarrow ships a full RFC 7932 codec (huffman + static dictionary)
    import pyarrow as _pa

    _PA_BROTLI = _pa.Codec("brotli") if _pa.Codec.is_available("brotli") else None
except Exception:  # pragma: no cover
    _PA_BROTLI = None

from . import brotli_fallback


def _pa_brotli_decompress(payload: bytes) -> bytes:
    """Full-format decode through pyarrow's brotli codec.

    The codec API needs the decompressed size up front, which a raw brotli
    stream doesn't carry (RFC 7932 has no length header).  But the codec
    fails for every undersized buffer and succeeds (zero-padded) for any
    size ≥ actual, so the exact length is the minimal succeeding size:
    exponential probe up from a typical-text-ratio guess, then binary
    search down.  ~5-8 whole-stream decodes per document — executor-side
    and per-file-parallel in read_snapshots_brotli, so throughput scales
    out with the cluster rather than with this constant.
    """
    # invariant: lo fails (−1 ≡ "below any size"), hi succeeds
    lo, hi = -1, max(64, len(payload) * 8)
    while True:  # exponential: find a succeeding upper bound
        try:
            _PA_BROTLI.decompress(payload, hi)
            break
        except OSError:
            lo, hi = hi, hi * 4
            if hi > 1 << 34:  # 16 GiB: not a valid stream, not a size problem
                raise
    while lo + 1 < hi:  # minimal succeeding size == exact decoded length
        mid = (lo + hi) // 2
        try:
            _PA_BROTLI.decompress(payload, mid)
            hi = mid
        except OSError:
            lo = mid
    return bytes(_PA_BROTLI.decompress(payload, hi))


def brotli_decompress(payload: bytes) -> bytes:
    """Decode brotli bytes — full format (huffman + dictionary meta-blocks):
    the real module when installed, else pyarrow's bundled codec, else the
    vendored stored-mode subset (RFC 7932 uncompressed meta-blocks) as the
    last-resort floor."""
    if brotli is not None:  # pragma: no cover
        return brotli.decompress(payload)
    if _PA_BROTLI is not None:
        return _pa_brotli_decompress(payload)
    return brotli_fallback.decompress(payload)


def brotli_compress(payload: bytes) -> bytes:
    if brotli is not None:  # pragma: no cover
        return brotli.compress(payload)
    if _PA_BROTLI is not None:
        return bytes(_PA_BROTLI.compress(payload))
    return brotli_fallback.compress(payload)


def snapshot_path(root: str, snapshot_id: str, compressed: bool = False) -> str:
    return os.path.join(root, snapshot_id + (".json.br" if compressed else ".json"))


def resolve_snapshot_path(root: str, snapshot_id: str) -> tuple[str, bool]:
    """(path, is_compressed) for a landed snapshot; prefers ``.json``, falls
    back to ``.json.br`` (the reference's native codec,
    process_snapshot.py:324-342).  Missing files resolve to the plain path so
    the reader raises its normal not-found error."""
    plain = snapshot_path(root, snapshot_id)
    if os.path.exists(plain):
        return plain, False
    br = snapshot_path(root, snapshot_id, compressed=True)
    if os.path.exists(br):
        return br, True
    return plain, False


def download_snapshot(
    root: str, snapshot_id: str, url_template: str, timeout: float = 30.0
) -> str | None:
    """S2 download seam: fetch ``{url_template}/{snapshot_id}.br`` and land
    it in the canonical layout, returning the landed path (None on fetch
    failure, mirroring the reference's None-on-error contract).

    Mirrors reference process_snapshot.py:324-342 (download_snapshot_data:
    GET ``{SNAPSHOT_DOWNLOAD_REMOTE_URL}/{id}.br`` → brotli -d → json), but
    decode stays deferred: the landed ``.json.br`` is decoded executor-side
    by ``read_snapshots_brotli``, so bulk backfills parallelize the decode
    instead of doing it at fetch time.  ``url_template`` may be any scheme
    urllib supports — ``file://`` for hermetic tests, ``https://`` against a
    real snapshot bucket.
    """
    from urllib.request import urlopen

    url = f"{url_template.rstrip('/')}/{snapshot_id}.br"
    try:
        with urlopen(url, timeout=timeout) as resp:
            payload = resp.read()
    except Exception:
        return None
    path = snapshot_path(root, snapshot_id, compressed=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # land all-or-nothing: a crash mid-write must not leave a truncated
    # .json.br that resolve_or_download_snapshot_path would treat as landed
    # forever (the reference downloads into a tempdir for the same reason,
    # process_snapshot.py:332-338)
    tmp = f"{path}.tmp-{os.getpid()}"
    try:
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):  # pragma: no cover - only on write failure
            os.remove(tmp)
    return path


def download_latest_snapshots(
    root: str,
    url_template: str,
    minutes: int = 120,
    now: "object | None" = None,
    timeout: float = 30.0,
) -> list[str]:
    """Fetch the snapshots of the last ``minutes`` minutes (oldest first),
    skipping ones that fail to fetch; returns the landed snapshot ids.

    Mirrors reference local_development_helpers.py:14-18 (last-2-hours loop
    over minute-granular ids).  ``now`` is injectable for hermetic tests.
    """
    import datetime as _dt

    if now is None:
        now = _dt.datetime.now(_dt.timezone.utc)
    landed = []
    for i in reversed(range(1, minutes)):
        sid = (now - _dt.timedelta(minutes=i)).strftime("%Y/%m/%d/%H/%M")
        if download_snapshot(root, sid, url_template, timeout=timeout):
            landed.append(sid)
    return landed


def resolve_or_download_snapshot_path(
    root: str, snapshot_id: str, url_template: str | None = None
) -> tuple[str, bool]:
    """``resolve_snapshot_path`` with the reference's ``download=True`` mode
    (process_snapshot.py:344-348): if the snapshot isn't landed locally and a
    URL template is configured, fetch it into the landing root first."""
    plain = snapshot_path(root, snapshot_id)
    br = snapshot_path(root, snapshot_id, compressed=True)
    if not os.path.exists(plain) and not os.path.exists(br) and url_template:
        download_snapshot(root, snapshot_id, url_template)
    return resolve_snapshot_path(root, snapshot_id)


def _id_from_path_col() -> F.Column:
    # .../YYYY/MM/DD/HH/MM.json → YYYY/MM/DD/HH/MM
    return F.regexp_extract(
        F.input_file_name(), r"(\d{4}/\d{2}/\d{2}/\d{2}/\d{2})\.json", 1
    )


def json_snapshot_reader(reader):
    """The snapshot-document set-up of a batch (``spark.read``) or streaming
    (``spark.readStream``) JSON reader: the explicit schema plus
    ``_corrupt_record``, PERMISSIVE mode and multi-line documents.

    PERMISSIVE mode + ``_corrupt_record`` keeps one bad file from failing a
    bulk read (SURVEY §7 hard-part 4): corrupt documents surface as rows with
    NULL ``Siri`` which the caller can route to per-snapshot error status.
    """
    from pyspark.sql import types as T

    # fresh StructType: .add() mutates in place, never touch the shared one
    schema = T.StructType(
        list(SIRI_SNAPSHOT_SCHEMA.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        reader.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("multiLine", "true")
    )


def snapshot_rows(df: DataFrame) -> DataFrame:
    """Documents read by a ``json_snapshot_reader`` → (snapshot_id, Siri,
    _corrupt_record) rows, the id recovered from each file's path."""
    return df.select(_id_from_path_col().alias("snapshot_id"), "Siri", "_corrupt_record")


def read_snapshots(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Read snapshot JSON document(s) → (snapshot_id, Siri, _corrupt_record)
    rows in one multi-file scan."""
    return snapshot_rows(json_snapshot_reader(spark.read).json(paths))


def read_snapshots_brotli(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """S2: read ``.json.br`` files via binaryFile + per-partition decode.

    The decode is the one step built-in sources can't express (the reference
    shells out to ``brotli -d``, process_snapshot.py:340-342).  It runs in
    ``mapPartitions`` so each executor decodes its own files — no driver
    bottleneck — then the decompressed text re-enters the declarative plan
    through ``from_json`` with the explicit schema.  Decode uses the real
    ``brotli`` module when installed, else the vendored RFC 7932 stored-mode
    subset (``brotli_fallback``).
    """
    bin_df = (
        spark.read.format("binaryFile")
        # accept a landing-root directory, not just explicit file paths: the
        # YYYY/MM/DD/HH layout is plain nesting, not k=v partitions, so the
        # file index needs recursive lookup to reach the leaves
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json.br")
        .load(paths)
    )

    def decode(it: Iterator) -> Iterator:
        # imported inside the task so the closure stays slim; resolves to the
        # real module or the vendored fallback on each executor independently
        from open_bus_siri_etl_spark.sources.snapshots import brotli_decompress

        for row in it:
            yield row.path, brotli_decompress(bytes(row.content)).decode("utf-8")

    decoded = bin_df.select("path", "content").rdd.mapPartitions(decode).toDF(
        ["path", "json_text"]
    )
    return decoded.select(
        F.regexp_extract("path", r"(\d{4}/\d{2}/\d{2}/\d{2}/\d{2})\.json\.br", 1).alias(
            "snapshot_id"
        ),
        # parse the full document ({"Siri": {...}}), then project the Siri
        # member — parsing with the inner struct schema would silently yield
        # all-null fields (the top-level key wouldn't match)
        F.from_json("json_text", SIRI_SNAPSHOT_SCHEMA)["Siri"].alias("Siri"),
        F.lit(None).cast("string").alias("_corrupt_record"),
    )


def list_snapshot_ids(root: str, limit_prefix: str = "") -> list[str]:
    """S3: discovery listing — walk the partitioned layout, return snapshot ids.

    Local-filesystem analog of the reference's hierarchical S3 prefix walk
    (update_pending_snapshots.py:15-44); on a real lake this is the file
    index / partition discovery of the object store.  A minute landed as
    both ``.json`` and ``.json.br`` is listed once.
    """
    found: set[str] = set()
    base = os.path.join(root, limit_prefix) if limit_prefix else root
    if not os.path.isdir(base):
        return []
    for dirpath, _dirnames, filenames in os.walk(base):
        for fn in filenames:
            if fn.endswith(".json") or fn.endswith(".json.br"):
                rel = os.path.relpath(os.path.join(dirpath, fn), root)
                sid = rel.replace(".json.br", "").replace(".json", "")
                if len(sid.split("/")) == 5:
                    found.add(sid)
    return sorted(found)


def write_snapshot_fixture(
    root: str, snapshot_id: str, document: dict, compressed: bool = False
) -> str:
    """Test/dev helper: land a snapshot document in the canonical layout
    (optionally brotli-compressed, like the reference's real inputs)."""
    path = snapshot_path(root, snapshot_id, compressed=compressed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    payload = json.dumps(document).encode("utf-8")
    with open(path, "wb") as f:
        f.write(brotli_compress(payload) if compressed else payload)
    return path
