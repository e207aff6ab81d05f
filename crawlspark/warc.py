"""WARC (ISO 28500 / WARC/1.0) ingestion: raw archive bytes → page rows.

Common-Crawl-style corpora arrive as WARC files; the north_rule's Iceberg
PAGES table (url, warc_ts, html, ...) is what a crawl READS — this module is
the edge that loads it from the public archive format. The reference has no
archive ingestion (it fetches live providers, ``ref:src/main.rs:154-267``);
WARC is the public-standard equivalent of its ZIP-of-XML input walk
(``ref:src/main.rs:186-204``), and the parser mirrors that walk's error
tolerance: a malformed record quarantines ITSELF, not the file.

Format notes (WARC/1.0, warc-specifications; same subset warcio reads):
records start ``WARC/1.0\\r\\n``, named headers until an empty line, then
exactly ``Content-Length`` payload bytes, then ``\\r\\n\\r\\n``. For
``WARC-Type: response`` with ``Content-Type: application/http`` the payload
is an HTTP message — status line + headers, blank line, body. Framing is by
Content-Length ONLY: a payload containing the bytes ``WARC/1.0`` must NOT
resync the parser (tested), which is why this is a byte walk and not a
regex/split — and therefore an Arrow-batched ``mapInPandas`` (the same
legitimately-Python tier as the extraction UDF), never per-row Python.

Scale shape: WARC files are independent — parallelism is one task per file
(Common Crawl ships ~1 GB segments; 100 TB = ~10^5 files ≫ executor
slots). ``parse_warc`` repartitions its input BEFORE the UDF: that breaks
the scan→Python fusion (Spark 4.1's PythonRunner selector-spin when a UDF
sits directly on a scan — see .claude memory / extract.py) and spreads
files across executors. Records stream out in small slices so a 1 GB
archive never materializes as one Arrow batch.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

WARC_RECORDS = StructType(
    [
        StructField("src", StringType(), False),        # file path / src id
        StructField("record_index", IntegerType(), False),
        StructField("warc_type", StringType(), True),
        StructField("target_uri", StringType(), True),
        StructField("warc_date", StringType(), True),   # raw ISO header value
        StructField("http_status", IntegerType(), True),
        StructField("payload", BinaryType(), True),     # HTTP body (responses)
        StructField("payload_len", LongType(), True),
        StructField("error", StringType(), True),       # per-record quarantine
    ]
)

_CRLF = b"\r\n"


def encode_warc(records: list[dict]) -> bytes:
    """Deterministic WARC/1.0 writer (tests + oracle fixtures; also the
    shape a warehouse export sink would emit). Each record dict:
    ``{url, date, body, status=200, warc_type='response'}`` — response
    records wrap the body in an HTTP message exactly like Common Crawl."""
    out = []
    for i, r in enumerate(records):
        wtype = r.get("warc_type", "response")
        body = r["body"] if isinstance(r["body"], bytes) else r["body"].encode()
        if wtype == "response":
            http = (
                f"HTTP/1.1 {r.get('status', 200)} OK\r\n"
                "Content-Type: text/html\r\n\r\n"
            ).encode() + body
        else:
            http = body
        head = (
            "WARC/1.0\r\n"
            f"WARC-Type: {wtype}\r\n"
            f"WARC-Record-ID: <urn:uuid:{i:08d}>\r\n"
            f"WARC-Target-URI: {r['url']}\r\n"
            f"WARC-Date: {r['date']}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        out.append(head + http + b"\r\n\r\n")
    return b"".join(out)


def _walk_warc(src: str, data: bytes) -> Iterator[tuple]:
    """Yield WARC_RECORDS tuples from one archive's bytes. Content-Length
    framing only; malformed records yield an error row and stop the file
    (without a trusted length there is no next-record boundary)."""
    pos, idx = 0, 0
    n = len(data)
    while pos < n:
        if data[pos:pos + 4] == b"\r\n\r\n":  # inter-record slack
            pos += 4
            continue
        if not data.startswith(b"WARC/", pos):
            yield (src, idx, None, None, None, None, None, None,
                   f"bad magic at offset {pos}")
            return
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            yield (src, idx, None, None, None, None, None, None,
                   "truncated header block")
            return
        headers = {}
        for line in data[pos:hdr_end].split(_CRLF)[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get(b"content-length", b""))
        except ValueError:
            yield (src, idx, None, None, None, None, None, None,
                   "missing/invalid Content-Length")
            return
        if clen < 0:
            # a negative length would move the cursor BACKWARDS onto this
            # record's own magic — the walk would re-yield it forever (one
            # malicious archive = a task that never terminates)
            yield (src, idx, None, None, None, None, None, None,
                   f"negative Content-Length ({clen})")
            return
        block = data[hdr_end + 4:hdr_end + 4 + clen]
        if len(block) < clen:
            yield (src, idx, None, None, None, None, None, None,
                   f"truncated payload ({len(block)}/{clen} bytes)")
            return
        wtype = headers.get(b"warc-type", b"").decode("ascii", "replace")
        uri = headers.get(b"warc-target-uri")
        date = headers.get(b"warc-date")
        status, payload = None, block
        if wtype == "response" and block.startswith(b"HTTP/"):
            he = block.find(b"\r\n\r\n")
            if he >= 0:
                sl = block[:block.find(_CRLF)].split(b" ")
                if len(sl) >= 2 and sl[1].isdigit():
                    status = int(sl[1])
                payload = block[he + 4:]
        yield (
            src, idx, wtype,
            uri.decode("utf-8", "replace") if uri is not None else None,
            date.decode("ascii", "replace") if date is not None else None,
            status, payload, len(payload), None,
        )
        idx += 1
        pos = hdr_end + 4 + clen


def parse_warc(
    archives: DataFrame,
    src_col: str = "path",
    content_col: str = "content",
    tasks: int | None = None,
) -> DataFrame:
    """(src, archive bytes) → WARC_RECORDS rows, one task per archive.

    Input shape matches ``spark.read.format('binaryFile')`` (path, content).
    The repartition below is load distribution AND the mandatory exchange
    under a mapInPandas (Spark 4.1 PythonRunner selector-spin when Python
    sits directly on a scan); records are yielded in small slices so one
    archive never becomes one giant Arrow batch."""
    import pandas as pd

    cols = archives.select(
        F.col(src_col).cast("string").alias("src"), F.col(content_col).alias("data")
    )
    n = tasks or int(
        archives.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = WARC_RECORDS.fieldNames()
        buf: list[tuple] = []
        for pdf in batches:
            for src, data in zip(pdf["src"], pdf["data"]):
                for rec in _walk_warc(src, bytes(data)):
                    buf.append(rec)
                    if len(buf) >= 400:  # slice-yield: extract.py pattern
                        yield pd.DataFrame(buf, columns=names)
                        buf = []
        if buf:
            yield pd.DataFrame(buf, columns=names)

    return cols.repartition(n).mapInPandas(run, schema=WARC_RECORDS)


def pages_from_warc(records: DataFrame) -> DataFrame:
    """WARC response records → schemas.PAGES rows (url, warc_ts, html, text,
    lang): the load edge for the crawl's Iceberg pages table. Non-response /
    errored records are dropped here — callers keep the records frame for
    quarantine accounting (S24 parity)."""
    return (
        records.filter(
            (F.col("warc_type") == "response") & F.col("error").isNull()
        )
        .select(
            F.col("target_uri").alias("url"),
            F.try_to_timestamp(
                F.regexp_replace(F.col("warc_date"), "Z$", "")
            ).alias("warc_ts"),
            F.col("payload").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    )
