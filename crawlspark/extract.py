"""Payload extraction — the engine's single pandas-UDF family.

Reproduces, bit-for-bit, the reference's extraction pipeline:

* ZIP → ordered per-member byte blobs with per-entry error tolerance
  (/root/reference/src/abcd/archive_reader.rs:24-76; error→warn+continue
  /root/reference/src/main.rs:226-234).
* Streaming XML event parse → 1 dataset row + N unit rows
  (/root/reference/src/abcd/abcd_parser.rs:39-157):
    - tag-path stack push/pop with namespace stripping after the first ':'
      (abcd_parser.rs:55-58, 90-107, 174-179)
    - ``trim_text(true)``: text trimmed of [ \\t\\r\\n]; whitespace-only text
      emits no event (abcd_parser.rs:48)
    - values stored from the *escaped* bytes via from_utf8_lossy — entities are
      NOT unescaped (abcd_parser.rs:111, 118); CDATA/comments/PI/self-closing
      tags are ignored (quick-xml Event::Empty/CData fall into the `_ => ()`
      arm at abcd_parser.rs:129)
    - dataset metadata snapshot at the ``<Units>`` start tag
      (abcd_parser.rs:79-86); a unit row at each ``</Unit>`` whose parent path
      is /DataSets/DataSet/Units (abcd_parser.rs:100-106)
    - whitelist lookup by full slash path; numeric fields parsed with Rust
      f64 grammar, failure ⇒ silently absent (abcd_parser.rs:108-121)
    - landing page = extracted URI field else proposal (abcd_parser.rs:137-144)
    - "no dataset metadata" ⇒ error result (abcd_parser.rs:154-156)
  The ABCD version is sniffed from the DataSets start tag's attribute values
  (abcd_parser.rs:62-78; enum at abcd_version.rs:3-8) and — going one step
  further than the reference, which computes but never reads it — surfaced as
  the ``abcd_version`` meta column on dataset/unit rows.

Spark-side shape: ``extract_pages(df, fields, ...)`` runs ``mapInPandas`` over
Arrow batches of (url, html, provider, landing_proposal, ...) and returns one
long frame; dataset vs unit rows are then split by *projection* (the analog of
the reference's vertical split at src/storage/database_sink.rs:73-88), keeping
exactly one Python crossing in the plan.
"""

from __future__ import annotations

import io
import zipfile
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)

from .fields import AbcdFields, FieldSpec
from .rustcompat import parse_f64

_WS = b" \t\r\n"  # quick-xml trim_text whitespace set


def _strip_ns(name: bytes) -> bytes:
    """Namespace strip: bytes after the first ':' (abcd_parser.rs:174-179)."""
    i = name.find(b":")
    return name[i + 1:] if i >= 0 else name


def attr_values(attrs: bytes):
    """Raw (escaped) attribute VALUES of a start tag, in document order.

    The analog of quick-xml's ``e.attributes().filter_map(Result::ok)`` as the
    reference consumes it (abcd_parser.rs:63-72): only values are compared,
    keys are never read, and malformed trailing fragments are skipped rather
    than erroring.
    """
    i = 0
    n = len(attrs)
    while i < n:
        eq = attrs.find(b"=", i)
        if eq < 0:
            return
        j = eq + 1
        while j < n and attrs[j : j + 1] in (b" ", b"\t", b"\r", b"\n"):
            j += 1
        q = attrs[j : j + 1]
        if q not in (b'"', b"'"):
            i = eq + 1
            continue
        k = attrs.find(q, j + 1)
        if k < 0:
            return
        yield attrs[j + 1 : k]
        i = k + 1


def xml_events(data: bytes):
    """quick-xml-compatible event stream: (kind, payload, attrs) triples,
    kind ∈ {'start','end','text'}.

    Start/End carry the namespace-stripped tag name; Text carries the RAW
    (escaped, trimmed) bytes. Start events additionally carry the raw
    attribute byte-span of the tag (``b""`` for end/text) so callers can
    sniff attributes — the reference reads them exactly once, for the ABCD
    version (abcd_parser.rs:62-78). Comments, PIs, DOCTYPE, CDATA and
    self-closing tags emit nothing (reference ignores those events).
    """
    n = len(data)
    i = 0
    find = data.find  # bound method: this loop is the extraction hot path
    while i < n:
        j = find(b"<", i)
        if j < 0:
            break
        if j > i:
            text = data[i:j].strip(_WS)
            if text:
                yield ("text", text, b"")
        # single-character dispatch on the byte after '<' (replaces five
        # chained startswith probes per tag — same classification: '/'⇒end,
        # '!'⇒comment/CDATA/DOCTYPE, '?'⇒PI, else start tag; an EOF '<' has
        # c == b'' and falls through to the start branch's find/break
        # exactly like the startswith chain did)
        c = data[j + 1 : j + 2]
        if c == b"/":
            k = find(b">", j + 2)
            if k < 0:
                break
            name = data[j + 2 : k].strip(_WS)
            ci = name.find(b":")
            if ci >= 0:  # namespace strip (abcd_parser.rs:174-179), inlined
                name = name[ci + 1 :]
            yield ("end", name, b"")
            i = k + 1
        elif c == b"!":
            if data.startswith(b"<!--", j):
                k = find(b"-->", j + 4)
                i = n if k < 0 else k + 3
            elif data.startswith(b"<![CDATA[", j):
                k = find(b"]]>", j + 9)
                i = n if k < 0 else k + 3
            else:
                k = find(b">", j + 2)
                i = n if k < 0 else k + 1
        elif c == b"?":
            k = find(b"?>", j + 2)
            i = n if k < 0 else k + 2
        else:
            k = find(b">", j + 1)
            if k < 0:
                break
            inner = data[j + 1 : k]
            if inner.endswith(b"/"):
                i = k + 1  # self-closing == quick-xml Event::Empty, ignored
                continue
            parts = inner.split(None, 1)
            name = parts[0] if parts else inner
            attrs = parts[1] if len(parts) > 1 else b""
            ci = name.find(b":")
            if ci >= 0:
                name = name[ci + 1 :]
            yield ("start", name, attrs)
            i = k + 1
    # trailing text after the last tag is ignored (EOF)


class ParseError(Exception):
    pass


def parse_abcd(
    fields: AbcdFields,
    landing_page_field: str,
    xml_bytes: bytes,
    landing_page_proposal: str,
) -> tuple[dict, list[dict], str, str | None]:
    """Parse one XML blob → (dataset_values, unit_rows, landing_page,
    abcd_version).

    Exact port of the parse loop semantics at abcd_parser.rs:39-157; values
    are keyed by full field path; numeric values are Python floats.
    ``abcd_version`` is sniffed from the ``<DataSets>`` start tag's attribute
    values exactly as the reference does (abcd_parser.rs:62-78 over the
    AbcdVersion enum, abcd_version.rs:3-8): first attribute whose VALUE is
    the 2.06 or 2.1 TDWG namespace URI wins; anything else ⇒ None (the
    reference's AbcdVersion::Unknown).
    """
    whitelist: dict[bytes, FieldSpec] = fields.byte_whitelist
    path = bytearray()
    values: dict[str, object] = {}
    dataset_data: dict | None = None
    units: list[dict] = []
    abcd_version: str | None = None

    # The xml_events scan loop is INLINED here (extraction is the crawl's
    # dominant Python cost; the generator's per-event resume + tuple
    # allocation was ~30% of parse time). Event order, classification and
    # state transitions are identical to driving xml_events — pinned by
    # tests/test_extract.py::test_parse_abcd_matches_event_driven, which
    # runs this function against an xml_events-driven mirror over the
    # tricky-input battery. xml_events itself remains the public parity
    # surface.
    data = xml_bytes
    n = len(data)
    i = 0
    find = data.find
    while i < n:
        j = find(b"<", i)
        if j < 0:
            break
        if j > i:
            text = data[i:j].strip(_WS)
            if text:
                spec = whitelist.get(bytes(path))
                if spec is not None:
                    s = text.decode("utf-8", errors="replace")
                    if spec.numeric:
                        v = parse_f64(s)
                        if v is not None:
                            values[spec.name] = v
                    else:
                        values[spec.name] = s
        c = data[j + 1 : j + 2]
        if c == b"/":
            k = find(b">", j + 2)
            if k < 0:
                break
            name = data[j + 2 : k].strip(_WS)
            ci = name.find(b":")
            if ci >= 0:
                name = name[ci + 1 :]
            # reference truncates by the END tag's stripped length + 1
            # (abcd_parser.rs:91-98), trusting well-formed nesting
            del path[max(0, len(path) - len(name) - 1):]
            # name check FIRST (cheap) so the bytes(path) conversion only
            # runs on </Unit> ends — the conjunction is unchanged
            if name == b"Unit" and bytes(path) == b"/DataSets/DataSet/Units":
                units.append(dict(values))
                values.clear()
            i = k + 1
        elif c == b"!":
            if data.startswith(b"<!--", j):
                k = find(b"-->", j + 4)
                i = n if k < 0 else k + 3
            elif data.startswith(b"<![CDATA[", j):
                k = find(b"]]>", j + 9)
                i = n if k < 0 else k + 3
            else:
                k = find(b">", j + 2)
                i = n if k < 0 else k + 1
        elif c == b"?":
            k = find(b"?>", j + 2)
            i = n if k < 0 else k + 2
        else:
            k = find(b">", j + 1)
            if k < 0:
                break
            inner = data[j + 1 : k]
            if inner.endswith(b"/"):
                i = k + 1  # self-closing == quick-xml Event::Empty, ignored
                continue
            parts = inner.split(None, 1)
            name = parts[0] if parts else inner
            ci = name.find(b":")
            if ci >= 0:
                name = name[ci + 1 :]
            path += b"/"
            path += name
            lp = len(path)
            # length pre-checks keep the per-event bytes(path) conversion
            # off the common case (only two path depths can match)
            if lp == 9 and bytes(path) == b"/DataSets":
                attrs = parts[1] if len(parts) > 1 else b""
                for v in attr_values(attrs):
                    if v == b"http://www.tdwg.org/schemas/abcd/2.06":
                        abcd_version = "2.06"
                        break
                    if v == b"http://www.tdwg.org/schemas/abcd/2.1":
                        abcd_version = "2.1"
                        break
            elif lp == 23 and bytes(path) == b"/DataSets/DataSet/Units":
                dataset_data = dict(values)
                values.clear()
            i = k + 1

    if dataset_data is None:
        raise ParseError("ABCD file contains no dataset metadata.")

    lp = dataset_data.get(landing_page_field)
    landing_page = lp if isinstance(lp, str) else landing_page_proposal
    return dataset_data, units, landing_page, abcd_version


def zip_members(blob: bytes) -> Iterator[tuple[int, bytes | None, str | None]]:
    """(member_index, bytes|None, error|None) in archive index order
    (archive_reader.rs:45-65); bad members yield an error instead of raising
    (main.rs:226-234)."""
    zf = zipfile.ZipFile(io.BytesIO(blob))
    for idx in range(len(zf.infolist())):
        try:
            yield idx, zf.read(zf.infolist()[idx]), None
        except Exception as e:  # per-entry tolerance
            yield idx, None, str(e)


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

META_COLS = [
    ("url", StringType()),
    ("member_index", IntegerType()),
    ("kind", StringType()),          # 'dataset' | 'unit' | 'error'
    ("unit_index", IntegerType()),
    ("status", StringType()),        # 'ok' | 'zip_error' | 'member_error' | 'parse_error'
    ("error", StringType()),
    ("dataset_id", StringType()),
    ("dataset_path", StringType()),
    ("landing_page", StringType()),
    ("provider", StringType()),
    ("abcd_version", StringType()),  # sniffed per member (abcd_parser.rs:62-78)
]


def output_schema(fields: AbcdFields) -> StructType:
    cols = [StructField(n, t, True) for n, t in META_COLS]
    for f_ in fields:
        cols.append(StructField(f_.hash, DoubleType() if f_.numeric else StringType(), True))
    return StructType(cols)


def extract_pages(
    df: DataFrame,
    fields: AbcdFields,
    landing_page_field: str,
    landing_base_url: str = "https://landing.example/landingpage.php",
) -> DataFrame:
    """One ``mapInPandas`` over (url, html, provider?) → long extraction frame.

    ``landing_base_url`` mirrors propose_landing_page (main.rs:355-364):
    proposal = f"{base}?archive={url}".
    """
    schema = output_schema(fields)
    spec_cols = [(f_.name, f_.hash, f_.numeric) for f_ in fields]
    out_names = [f.name for f in schema.fields]
    lpf = landing_page_field
    frozen = [
        dict(name=f_.name, numeric=f_.numeric, vat_mandatory=f_.vat_mandatory,
             gfbio_mandatory=f_.gfbio_mandatory, global_field=f_.global_field,
             unit=f_.unit)
        for f_ in fields
    ]

    has_provider = "provider" in df.columns
    src = df.select(
        F.col("url"),
        F.col("html"),
        (F.col("provider") if has_provider else F.lit("")).alias("provider"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .fields import AbcdFields as AF

        flds = AF.from_list(
            [
                dict(name=d["name"], numeric=d["numeric"], vatMandatory=d["vat_mandatory"],
                     gfbioMandatory=d["gfbio_mandatory"], globalField=d["global_field"],
                     unit=d["unit"])
                for d in frozen
            ]
        )
        # yield an output frame per small input SLICE, not per Arrow batch:
        # Spark 4's PythonRunner reader busy-polls its selector while a task's
        # input is fully written and no output has arrived (verified on this
        # build: 16 executor threads each burning a full core in
        # EPoll.wait/PythonRunner.read while the workers starved). Streaming
        # output every few hundred pages keeps the JVM side reading instead
        # of spinning, and bounds per-slice memory.
        slice_rows = 400
        for whole in batches:
          for lo in range(0, len(whole), slice_rows):
            pdf = whole.iloc[lo : lo + slice_rows]
            rows: list[dict] = []

            def emit(url, provider, member_index, kind, unit_index, status, error,
                     landing_page=None, vals=None, version=None):
                r = dict.fromkeys(out_names)
                r.update(url=url, member_index=member_index, kind=kind,
                         unit_index=unit_index, status=status, error=error,
                         dataset_id=url, dataset_path=url,
                         landing_page=landing_page, provider=provider,
                         abcd_version=version)
                if vals:
                    for name, h, _num in spec_cols:
                        if name in vals:
                            r[h] = vals[name]
                rows.append(r)

            for url, html, provider in zip(pdf["url"], pdf["html"], pdf["provider"]):
                proposal = f"{landing_base_url}?archive={url}"
                if html is None:
                    emit(url, provider, -1, "error", -1, "zip_error", "empty payload")
                    continue
                try:
                    members = list(zip_members(bytes(html)))
                except Exception as e:
                    emit(url, provider, -1, "error", -1, "zip_error", str(e))
                    continue
                for idx, blob, err in members:
                    if err is not None:
                        emit(url, provider, idx, "error", -1, "member_error", err)
                        continue
                    try:
                        ds, units, landing, ver = parse_abcd(flds, lpf, blob, proposal)
                    except ParseError as e:
                        emit(url, provider, idx, "error", -1, "parse_error", str(e))
                        continue
                    emit(url, provider, idx, "dataset", -1, "ok", None, landing, ds,
                         version=ver)
                    for ui, u in enumerate(units):
                        emit(url, provider, idx, "unit", ui, "ok", None, landing, u,
                             version=ver)

            out = pd.DataFrame(rows, columns=out_names)
            if len(out) == 0:
                out = pd.DataFrame({n: pd.Series(dtype=object) for n in out_names})
            for name, h, num in spec_cols:
                if num:
                    out[h] = pd.to_numeric(out[h], errors="coerce")
            yield out

    return src.mapInPandas(run, schema=schema)


def _passthrough(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    yield from batches


def start_workers(spark: SparkSession) -> None:
    """Start the session's Python workers for the extraction UDF: one Arrow
    map task per core, so every core's worker is forked (and has imported
    this module, which ``_passthrough`` is pickled by reference to) before
    the first extraction needs it. Spark starts them lazily, at the first
    Python task; a started worker is reused by later tasks."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(_passthrough, "id long").collect()


def split_dataset_units(df: DataFrame, fields: AbcdFields) -> tuple[DataFrame, DataFrame]:
    """Vertical split on globalField (database_sink.rs:73-88) by projection."""
    ds_fields, unit_fields = fields.split()
    meta = ["url", "member_index", "dataset_id", "dataset_path", "landing_page", "provider"]
    datasets = df.filter(F.col("kind") == "dataset").select(*meta, *[f.hash for f in ds_fields])
    units = df.filter(F.col("kind") == "unit").select(
        *meta, "unit_index", *[f.hash for f in unit_fields]
    )
    return datasets, units
