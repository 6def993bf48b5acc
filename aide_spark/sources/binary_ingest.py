"""S1 raw-bytes ingest: byte streams → span arrays via an Arrow-batched
vectorized UDF (SURVEY.md §2.12(a) — the only genuinely non-relational
boundary on the write path).

Two decoders:

* :func:`decode_container` — a real, tested decoder for the engine's simple
  container framing (utf-8 text; ``\\f`` lines delimit pages; ``\\x01MEDIA ``
  lines carry media refs). :func:`encode_spans` is its inverse, so the path
  round-trips: spans → bytes → spans.
* :func:`decode_pdf` — REAL raw-PDF tokenization via the from-scratch codec
  in :mod:`aide_spark.sources.pdf_codec` (object scan → page tree →
  FlateDecode → text/XObject operators), no PDF library required. Returns
  ``None`` for undecodable payloads — the validator then quarantines them
  as CORRUPTED, matching the reference's magic-bytes/structure failure path
  (pdf_validator.py:44-58).
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..schemas import PAGE_BREAK, SPAN

_MEDIA_MARK = "\x01MEDIA "

DECODED = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN), True),
    ]
)


def encode_spans(spans: list[tuple]) -> bytes:
    """Inverse of :func:`decode_container` (test fixture + write-side)."""
    lines = []
    for kind, text, media_ref, _off in spans:
        lines.append(_MEDIA_MARK + media_ref if kind == "media" else text)
    return "\n".join(lines).encode("utf-8")


def _is_gzip(payload) -> bool:
    return isinstance(payload, (bytes, bytearray)) and bytes(payload[:2]) == b"\x1f\x8b"


def _gunzip(payload: bytes) -> bytes | None:
    """gzip payload → its decompressed bytes; None if the body is corrupt."""
    import gzip
    import zlib

    try:
        return gzip.decompress(bytes(payload))
    # zlib.error is NOT an OSError subclass: a corrupt deflate body behind
    # a valid 1f 8b magic raises it, and the quarantine contract is that
    # the decoders never raise (one bad WARC payload must not fail the
    # whole mapInPandas job)
    except (OSError, EOFError, zlib.error):
        return None


def decode_container(payload: bytes) -> list[dict] | None:
    """bytes → span dicts; None for undecodable payloads (quarantine path).
    gzip-transparent: a ``1f 8b`` magic is decompressed first — web-crawl
    text payloads overwhelmingly arrive gzipped (WARC convention)."""
    if _is_gzip(payload):
        payload = _gunzip(payload)
    try:
        text = payload.decode("utf-8")
    except (UnicodeDecodeError, AttributeError):
        return None
    spans = []
    for i, line in enumerate(text.split("\n")) if text else []:
        if line.startswith(_MEDIA_MARK):
            spans.append(
                {"kind": "media", "text": "", "media_ref": line[len(_MEDIA_MARK):],
                 "offset": i}
            )
        else:
            spans.append({"kind": "text", "text": line, "media_ref": "", "offset": i})
    return spans


def decode_pdf(payload: bytes) -> list[dict] | None:
    """Raw PDF byte-stream → spans (None ⇒ quarantine). Implemented from
    scratch in :mod:`aide_spark.sources.pdf_codec` — the north-star's
    "tokenize raw PDF byte streams" without any PDF library; round-trip
    against :func:`pdf_codec.encode_pdf` is property-tested over the whole
    generator corpus (tests/test_binary_ingest.py)."""
    from .pdf_codec import decode_pdf_bytes

    return decode_pdf_bytes(payload)


DECODED_STATUS = StructType(
    DECODED.fields + [StructField("decode_status", StringType(), False)]
)


def ingest_binary_pdf(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "content",
    password_col: str | None = None,
    passthrough: list[str] | None = None,
    with_metadata: bool = False,
) -> DataFrame:
    """(doc_id, content[, password]) → (doc_id, spans, decode_status
    [, pdf_meta]).

    The raw-PDF twin of :func:`ingest_binary` that carries the codec's
    quarantine status through, so V4 runs on REAL bytes: encrypted PDFs
    authenticate against the standard security handler (RC4/MD5, from
    scratch in pdf_codec) with the reference's trimmed-password retry
    (pdf_validator.py:113-134); failures surface as ``ENCRYPTED_NO_PASSWORD``
    / ``WRONG_PASSWORD`` / ``CORRUPTED`` for the validator ladder.

    ``passthrough`` columns (e.g. binaryFile's size-derived
    ``declared_size_mb``) are copied through the Arrow batches — no re-join
    (= no shuffle) needed to recover them downstream.

    ``with_metadata`` adds a ``pdf_meta map<string,string>`` column (the
    /Info document-information dict, decrypted + UTF-16-decoded like
    ``PdfReader.metadata``) so the V7 probe
    (:func:`aide_spark.operators.validation.pdf_metadata_struct`) runs on
    raw bytes in the same single pass over the payload."""
    import pandas as pd

    from .pdf_codec import decode_pdf_bytes_ex, decode_pdf_full

    extra = passthrough or []
    missing = [c for c in extra if c not in df.columns]
    if missing:
        # fail on the driver with the column names — silently dropping them
        # from the schema would leave the batch loop to KeyError inside the
        # Arrow worker, an opaque executor-side task failure (r4 advisory)
        raise ValueError(f"passthrough columns not in input: {missing}")
    meta_fields = (
        [StructField("pdf_meta", MapType(StringType(), StringType()), True)]
        if with_metadata
        else []
    )
    schema = StructType(
        DECODED_STATUS.fields
        + meta_fields
        + [f for f in df.schema.fields if f.name in extra]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pws = (
                pdf[password_col]
                if password_col
                else [None] * len(pdf)
            )
            if with_metadata:
                # decode_pdf_full: parse/auth/ObjStm work happens ONCE per
                # doc for both surfaces
                decoded = [
                    decode_pdf_full(b, pw if isinstance(pw, str) else None)
                    for b, pw in zip(pdf[payload_col], pws)
                ]
            else:
                decoded = [
                    decode_pdf_bytes_ex(b, pw if isinstance(pw, str) else None)
                    for b, pw in zip(pdf[payload_col], pws)
                ]
            out = {
                "doc_id": pdf[id_col].astype(str),
                "spans": [d[0] for d in decoded],
                "decode_status": [d[-1] for d in decoded],
            }
            if with_metadata:
                out["pdf_meta"] = [d[1] for d in decoded]
            for c in extra:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=schema)


def decode_html(payload: bytes) -> list[dict] | None:
    """Raw HTML bytes → main-content spans (boilerplate stripped): the
    from-scratch tokenizer (html_codec) + the pure-Python NumWordsRules twin
    (operators/boilerplate.label_blocks_py).  Offsets are re-densified over
    kept blocks, matching operators/boilerplate.main_content_spans exactly.
    None only for non-bytes input (the tokenizer itself never raises)."""
    from ..operators.boilerplate import label_blocks_py
    from .html_codec import tokenize_blocks

    if not isinstance(payload, (bytes, bytearray)):
        return None
    blocks = tokenize_blocks(bytes(payload))
    keep = label_blocks_py(blocks)
    spans = []
    for b, k in zip(blocks, keep):
        if k:
            spans.append(
                {
                    "kind": b["kind"], "text": b["text"],
                    "media_ref": b["media_ref"], "offset": len(spans),
                }
            )
    return spans


def sniff_format(payload: bytes) -> str:
    """Magic-bytes dispatch for the mixed web-crawl table:
    ``pdf`` | ``html`` | ``container`` (utf-8 text / span framing; a gzip
    payload is ``container`` here — :func:`sniff_decode` decompresses and
    re-sniffs it).  The HTML sniff checks the first 256 bytes
    case-insensitively for a doctype or root tag (the WHATWG sniffing rule,
    trimmed)."""
    if not isinstance(payload, (bytes, bytearray)):
        return "container"
    head = bytes(payload[:256])
    if head[:4] == b"%PDF":
        return "pdf"
    if head[:2] in (b"\xff\xfe", b"\xfe\xff"):
        # utf-16 HTML would never match byte-wise ('<\x00h\x00…'): decode
        # the head for the sniff (the html decoder re-sniffs the charset)
        head = head[2:].decode(
            "utf-16-le" if head[:2] == b"\xff\xfe" else "utf-16-be", "replace"
        ).encode("utf-8", "replace")
    low = head.lower()
    if low.lstrip()[:14] == b"<!doctype html" or b"<html" in low:
        return "html"
    return "container"


_MIXED_DECODERS: dict[str, Callable[[bytes], list | None]] = {
    "pdf": decode_pdf,
    "html": decode_html,
    "container": decode_container,
}


def sniff_decode(payload: bytes) -> tuple[str, list | None]:
    """One payload of the mixed web-crawl table → (fmt, spans). A gzip
    payload is decompressed once and re-sniffed, so gzipped HTML and PDF
    reach their own decoders rather than the container framing; a corrupt
    gzip body quarantines as ``("container", None)``."""
    if _is_gzip(payload):
        payload = _gunzip(payload)
        if payload is None:
            return "container", None
    fmt = sniff_format(payload)
    return fmt, _MIXED_DECODERS[fmt](payload)


MIXED_DECODED = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("fmt", StringType(), False),
        StructField("spans", ArrayType(SPAN), True),
    ]
)


def ingest_mixed(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "content"
) -> DataFrame:
    """One pass over a MIXED raw-payload table — PDFs, HTML pages, framed
    text containers (plain or gzipped) interleaved in the same column —
    dispatching each document by magic bytes to its from-scratch decoder
    and emitting the unified interleaved span schema plus the detected
    ``fmt``.  The north rule's input shape: one Arrow-batched operator, one
    output table, quarantine-by-null for undecodable rows of ANY format.
    Scale shape identical to :func:`ingest_binary` (zero shuffle; decode
    parallelism = partition parallelism)."""
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [sniff_decode(b) for b in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype(str),
                    "fmt": [f for f, _ in decoded],
                    "spans": [spans for _, spans in decoded],
                }
            )

    return df.mapInPandas(batches, schema=MIXED_DECODED)


WARC_DECODED = StructType(
    [
        StructField("warc_id", StringType(), False),
        StructField("rec_idx", LongType(), False),
        StructField("rec_type", StringType(), True),
        StructField("url", StringType(), True),
        StructField("http_status", LongType(), True),
        StructField("content_type", StringType(), True),
        StructField("fmt", StringType(), True),
        StructField("spans", ArrayType(SPAN), True),
    ]
)


def ingest_warc(
    df: DataFrame, id_col: str = "warc_id", payload_col: str = "content"
) -> DataFrame:
    """WARC files → one row per record, decoded: the web-crawl ingest leg.

    Each input row is one WARC file (plain, whole-file gzip, or
    member-per-record gzip — Common Crawl's shape); the from-scratch reader
    (:mod:`aide_spark.sources.warc_codec`) splits records and HTTP
    messages, then each record body takes the same magic-byte dispatch as
    :func:`ingest_mixed` into the unified interleaved span schema.
    Undecodable bodies quarantine as null spans; malformed files yield
    their parseable prefix (never raise).

    Scale shape: zero shuffle — files are the partition unit exactly as
    Common Crawl ships them (~1 GB segments), record explode happens inside
    the Arrow batch, and decode parallelism = scan parallelism.  Skew from
    giant files is the S2/skew.py story (repartition upstream on file
    size), not a join problem."""
    import pandas as pd

    from .warc_codec import parse_warc

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for wid, payload in zip(pdf[id_col], pdf[payload_col]):
                for r in parse_warc(payload):
                    rows.append(
                        (
                            str(wid), r["rec_idx"], r["rec_type"], r["url"],
                            r["http_status"], r["content_type"], *sniff_decode(r["body"]),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in WARC_DECODED.fields]
            )

    return df.mapInPandas(batches, schema=WARC_DECODED)


def ingest_binary(
    df: DataFrame,
    decoder: Callable[[bytes], list | None] = decode_container,
    id_col: str = "doc_id",
    payload_col: str = "content",
) -> DataFrame:
    """(doc_id, content binary) → (doc_id, spans). Arrow-batched; decode
    parallelism = input partitions; undecodable rows yield null spans (the
    validator quarantines them as CORRUPTED, matching the reference's
    magic-bytes/structure failure path)."""
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype(str),
                    "spans": [decoder(b) for b in pdf[payload_col]],
                }
            )

    return df.mapInPandas(batches, schema=DECODED)
