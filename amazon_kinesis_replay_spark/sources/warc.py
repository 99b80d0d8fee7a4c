"""WARC (Web ARChive) ingestion — the format web-crawl LLM corpora
start from.

Common Crawl (the largest public LLM pretraining source) ships
`.warc.gz` files: concatenated WARC/1.0 records (ISO 28500), each
record usually its own gzip MEMBER so readers can split without
decompressing the whole file. This module parses that public format
with the same distribution shape as the other binary sources
(`sources/lz4frame.py` precedent): one `binaryFile` row per object,
records parsed inside an Arrow-batched `mapInPandas` — per-file work
distributes across executors, the driver never touches content.

Record grammar (ISO 28500 §4): a version line `WARC/1.0\\r\\n`, header
lines `Name: value\\r\\n` up to a blank line, exactly
`Content-Length` payload bytes, then `\\r\\n\\r\\n`. Response records
carry an HTTP message as payload; `http_body` splits the HTTP header
block off, and `strip_html_tags` is the deliberately-simple baseline
text extractor (tag removal + entity decode + whitespace collapse —
real boilerplate removal is a model-class problem; this is the honest
floor, like the quality heuristics in operators/text.py).

Malformed input policy mirrors the reference's skip-bad-records
behavior (OP-SRC-SKIPBAD): a structurally broken record ends parsing
of THAT file at that offset — records already parsed are kept and the
error is surfaced per-file in the `parse_error` column, never hidden
and never fatal to the job.

At 100 TB: WARC objects are immutable inputs listed by prefix; the
parse is embarrassingly parallel per object (Common Crawl segments are
~1 GB — one task each), and downstream flows straight into the
documents pipeline (dedup/quality/tokenize) as (url, ts, text) rows.
"""

from __future__ import annotations

import gzip
import io
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Output schema of the distributed readers.
WARC_SCHEMA = ("path string, warc_type string, record_id string, "
               "target_uri string, warc_date string, content_type string, "
               "content binary, content_length long, parse_error string")


class WarcError(ValueError):
    pass


def parse_warc(data: bytes) -> tuple[list[dict], str | None]:
    """Parse concatenated WARC/1.0 records from (possibly gzipped)
    bytes. Returns (records, error): every record parsed before the
    first structural violation, plus the violation message (None for a
    clean file). Multi-member gzip decompresses transparently
    (gzip.GzipFile reads concatenated members — the Common Crawl
    per-record layout)."""
    if data[:2] == b"\x1f\x8b":
        try:
            data = gzip.GzipFile(fileobj=io.BytesIO(data)).read()
        except (OSError, EOFError) as e:       # EOFError is not OSError
            return [], f"gzip: {e or type(e).__name__}"
    out: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate extra record separators / trailing newlines
        while pos < n and data[pos:pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        line_end = data.find(b"\r\n", pos)
        if line_end < 0:
            return out, "truncated version line"
        version = data[pos:line_end]
        if not version.startswith(b"WARC/"):
            return out, f"bad version line at byte {pos}"
        pos = line_end + 2
        headers: dict[str, str] = {}
        while True:
            line_end = data.find(b"\r\n", pos)
            if line_end < 0:
                return out, "truncated header block"
            line = data[pos:line_end]
            pos = line_end + 2
            if not line:
                break                      # blank line: headers done
            if b":" not in line:
                return out, f"malformed header {line[:40]!r}"
            k, v = line.split(b":", 1)
            headers[k.decode("ascii", "replace").strip().lower()] = \
                v.decode("utf-8", "replace").strip()
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            return out, "missing/invalid Content-Length"
        if pos + clen > n:
            return out, "payload overruns file"
        payload = data[pos:pos + clen]
        pos += clen
        out.append({
            "warc_type": headers.get("warc-type"),
            "record_id": headers.get("warc-record-id"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "content": payload,
            "content_length": clen,
        })
    return out, None


def read_warc(spark: SparkSession, path: str,
              path_glob_filter: str | None = None) -> DataFrame:
    """Batch-read a WARC prefix: one row per record (see WARC_SCHEMA).
    binaryFile lists objects; parsing runs in mapInPandas (Arrow
    batches of whole objects — a task per file, the Common Crawl
    segment granularity)."""
    reader = spark.read.format("binaryFile")
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    files = reader.load(path).select("path", "content")
    return files.mapInPandas(_parse_files, WARC_SCHEMA)


def read_warc_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int = 1,
                     path_glob_filter: str | None = None) -> DataFrame:
    """Streaming twin of `read_warc` (the `read_events_stream_sniffed`
    pattern): file-stream source with maxFilesPerTrigger backpressure,
    same per-record output schema."""
    reader = (spark.readStream.format("binaryFile")
              .schema("path string, modificationTime timestamp, "
                      "length long, content binary")
              .option("maxFilesPerTrigger", str(max_files_per_trigger)))
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    files = reader.load(path).select("path", "content")
    return files.mapInPandas(_parse_files, WARC_SCHEMA)


def _parse_files(batches):
    import pandas as pd
    for pdf in batches:
        rows = []
        for path, blob in zip(pdf["path"], pdf["content"]):
            recs, err = parse_warc(bytes(blob))
            for r in recs:
                rows.append((path, r["warc_type"], r["record_id"],
                             r["target_uri"], r["warc_date"],
                             r["content_type"], r["content"],
                             r["content_length"], err))
            if not recs:
                rows.append((path, None, None, None, None, None,
                             None, None, err))
        yield pd.DataFrame(rows, columns=[
            "path", "warc_type", "record_id", "target_uri", "warc_date",
            "content_type", "content", "content_length", "parse_error"])


def http_body(content: "F.Column") -> "F.Column":
    """Strip the HTTP header block from a response record's payload:
    everything after the first CRLFCRLF (falling back to the whole
    payload when no header block exists). Pure column ops on binary →
    string (no UDF)."""
    s = content.cast("string")
    idx = F.instr(s, "\r\n\r\n")
    return F.when(idx > 0, F.substring(
        s, idx + F.lit(4), F.length(s))).otherwise(s)


def py_http_payload(payload: bytes) -> bytes:
    """HTTP response record -> decoded body bytes: split the header
    block, then undo Content-Encoding — identity, gzip/x-gzip,
    deflate (zlib or raw), and brotli ('br', the modern crawl default,
    decoded by pyarrow's bundled libbrotli). Unknown encodings return
    the raw body (caller-visible, never silently dropped); corrupt
    encoded bodies raise. For use inside the same
    Arrow-batched kernels as py_strip_html."""
    idx = payload.find(b"\r\n\r\n")
    if idx < 0:
        return payload
    headers = payload[:idx].decode("latin-1", "replace").lower()
    body = payload[idx + 4:]
    enc = ""
    for line in headers.split("\r\n"):
        if line.startswith("content-encoding:"):
            enc = line.split(":", 1)[1].strip()
            break
    if enc in ("", "identity"):
        return body
    if enc in ("gzip", "x-gzip"):
        import gzip
        return gzip.decompress(body)
    if enc == "deflate":
        import zlib
        try:
            return zlib.decompress(body)
        except zlib.error:
            return zlib.decompress(body, -15)    # raw-deflate servers
    if enc == "br":
        from .lz4frame import native_decompress
        return native_decompress(body, "brotli")
    return body


def _decode_bodies(batches):
    """mapInPandas kernel: HTTP response payloads -> body TEXT, undoing
    Content-Encoding via py_http_payload (identity/gzip/deflate/br). A
    record whose encoded body is corrupt is SKIPPED (the ingest contract:
    undecodable objects never abort the job); one bad byte inside a
    valid stream substitutes U+FFFD like every other text path."""
    import pandas as pd

    from .lz4frame import CORRUPT_ERRORS

    for pdf in batches:
        ids, uris, dates, texts = [], [], [], []
        for rid, uri, date, blob in zip(pdf["record_id"],
                                        pdf["target_uri"],
                                        pdf["warc_date"], pdf["content"]):
            try:
                body = py_http_payload(bytes(blob))
            except CORRUPT_ERRORS:
                continue                    # corrupt encoded body: skip
            ids.append(rid)
            uris.append(uri)
            dates.append(date)
            texts.append(body.decode("utf-8", "replace"))
        yield pd.DataFrame({"doc_id": ids, "url": uris,
                            "warc_date": dates, "text": texts})


def responses_to_documents(warc_df: DataFrame,
                           html_to_text: bool = True) -> DataFrame:
    """Crawl records -> the documents surface: filter `response`
    records, undo Content-Encoding (Arrow-batched kernel — the ONLY
    Python step, because brotli/gzip body decode can't be a column op),
    then JVM-side HTML->text (`strip_html_tags`, pure regexp columns).
    Output: (doc_id, url, warc_date, text) — feed straight into
    text.quality_features / the curate pipeline
    (tools/warc_curate_bridge.py is the composed witness)."""
    responses = (warc_df
                 .filter(F.col("warc_type") == "response")
                 .filter(F.col("content").isNotNull())
                 .select("record_id", "target_uri", "warc_date",
                         "content"))
    docs = responses.mapInPandas(
        _decode_bodies,
        "doc_id string, url string, warc_date string, text string")
    if html_to_text:
        docs = docs.withColumn("text", strip_html_tags(F.col("text")))
    return docs


_TAG = r"<[^>]*>"
_SCRIPT = r"(?is)<(script|style)[^>]*>.*?</\1>"


def strip_html_tags(text_col: "F.Column") -> "F.Column":
    """Baseline HTML→text: drop script/style blocks, remove tags,
    decode the common entities, collapse whitespace. Deliberately
    simple and stated as such — the honest floor before a real
    boilerplate-removal model; composes into the documents pipeline
    (quality scoring downgrades what this keeps)."""
    s = F.regexp_replace(text_col, _SCRIPT, " ")
    s = F.regexp_replace(s, _TAG, " ")
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " ")):
        s = F.regexp_replace(s, ent, ch)
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def py_strip_html(text: str) -> str:
    """Driver twin of strip_html_tags for tests (same regex order;
    html.unescape intentionally NOT used — the column form decodes the
    same fixed entity set, nothing more)."""
    s = re.sub(_SCRIPT, " ", text)
    s = re.sub(_TAG, " ", s)
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " ")):
        s = s.replace(ent, ch)
    return re.sub(r"\s+", " ", s).strip()


def write_warc(records: list[dict], gzip_per_record: bool = True) -> bytes:
    """Serialize records to WARC/1.0 bytes (the test-fixture writer and
    round-trip witness — the Common Crawl per-record-gzip layout when
    gzip_per_record). Each dict: warc_type, record_id, target_uri,
    warc_date, content_type, content (bytes)."""
    out = b""
    for r in records:
        headers = [b"WARC/1.0"]
        for name, key in (("WARC-Type", "warc_type"),
                          ("WARC-Record-ID", "record_id"),
                          ("WARC-Target-URI", "target_uri"),
                          ("WARC-Date", "warc_date"),
                          ("Content-Type", "content_type")):
            if r.get(key) is not None:
                headers.append(
                    f"{name}: {r[key]}".encode())
        body = r["content"]
        headers.append(f"Content-Length: {len(body)}".encode())
        rec = b"\r\n".join(headers) + b"\r\n\r\n" + body + b"\r\n\r\n"
        out += gzip.compress(rec) if gzip_per_record else rec
    return out
