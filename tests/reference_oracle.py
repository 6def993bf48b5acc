"""Test oracle: run the REFERENCE extractors (from /root/reference, read-only)
directly on synthesized page text, and render their output through the shared
canonical span serializer.

The reference imports ``pypdf`` at module level but all of its parsing logic
operates on extracted page TEXT; we stub ``pypdf`` with a no-op module and
feed a fake reader whose pages return our generator's text. This runs the
reference's own code as the golden oracle without copying any of it.

A FRESH extractor instance is used per document, pinning the APGVB
``_previous_balance`` state to the documented fresh-instance behavior
(apgvb_extractor.py:821-824,856-859 — first record compares against 0.0),
which is exactly what ``lag(balance, 1, 0.0)`` reproduces.

When the reference cannot be imported, :func:`expected_spans` falls back to
the recorded span sequences in ``goldens/parity_spans.json`` (provenance in
that file); a doc without a golden, or goldens recorded under another
generator version, fails loudly rather than passing vacuously. The
validation and formatter parity tests fall back the same way to
``goldens/reference_values.json`` through :func:`expected_values`.
"""

from __future__ import annotations

import difflib
import functools
import json
import sys
import types
from pathlib import Path

from aide_spark.generator import GENERATOR_VERSION, spans_to_pages
from aide_spark.serialize import reference_spans

GOLDENS = Path(__file__).parent / "goldens" / "parity_spans.json"
REFERENCE_VALUES = Path(__file__).parent / "goldens" / "reference_values.json"


def _install_pypdf_stub() -> None:
    if "pypdf" in sys.modules:
        return
    mod = types.ModuleType("pypdf")
    errors = types.ModuleType("pypdf.errors")

    class PdfReadError(Exception):
        pass

    errors.PdfReadError = PdfReadError
    mod.errors = errors
    mod.PdfReader = object  # never constructed by the oracle path
    sys.modules["pypdf"] = mod
    sys.modules["pypdf.errors"] = errors


def _import_reference():
    _install_pypdf_stub()
    if "/root/reference/api" not in sys.path:
        sys.path.insert(0, "/root/reference/api")
    import extractors  # noqa: F401  (package __init__ pulls in all three)

    return sys.modules["extractors"]


class FakePage:
    def __init__(self, text: str):
        self._text = text

    def extract_text(self) -> str:
        return self._text


class FakeReader:
    is_encrypted = False

    def __init__(self, pages: list[str]):
        self.pages = [FakePage(t) for t in pages]


def run_reference(bank_id: str, pages: list[str]) -> dict:
    """Mirror extract_complete_statement's post-decrypt body per bank
    (union:76-93, canara:76-94, apgvb:367-385) on a fresh instance."""
    ext_pkg = _import_reference()
    if bank_id == "UNION":
        ext = ext_pkg.UnionBankExtractor()
        ext.statement_metadata = ext._extract_statement_metadata(
            pages[0] if pages else ""
        )
    elif bank_id == "CANARA":
        ext = ext_pkg.CanaraBankExtractor()
        ext.statement_metadata = ext._extract_statement_metadata(
            pages[0] if pages else ""
        )
    elif bank_id == "APGVB":
        ext = ext_pkg.APGVBExtractor()
        ext.statement_metadata = ext._extract_statement_metadata(FakeReader(pages))
    else:
        raise ValueError(bank_id)
    ext.transactions = ext._extract_all_transactions(FakeReader(pages))
    ext.financial_summary = ext._calculate_financial_summary()
    return {
        "total_transactions": len(ext.transactions),
        "statement_metadata": ext.statement_metadata,
        "financial_summary": ext.financial_summary,
        "transactions": ext.transactions,
    }


@functools.cache
def _load_goldens(path: Path) -> dict:
    g = json.loads(path.read_text())
    if g["generator_version"] != GENERATOR_VERSION:
        raise AssertionError(
            f"{path.name} was recorded at generator version "
            f"{g['generator_version']}, the generator is at {GENERATOR_VERSION}"
        )
    return g


def reference_available() -> bool:
    try:
        _import_reference()
    except ModuleNotFoundError:
        return False
    return True


def _tupled(v):
    return tuple(v) if isinstance(v, list) else v


def expected_values(section: str, from_reference) -> dict:
    """Expected ``{case key: value}`` for one parity test: ``from_reference()``
    when the reference imports, else the section's recorded ``[key, value]``
    pairs (lists read back as tuples)."""
    if reference_available():
        return from_reference()
    pairs = _load_goldens(REFERENCE_VALUES)[section]
    return {_tupled(k): _tupled(v) for k, v in pairs}


def assert_cases_match(want: dict, got: dict) -> None:
    """Every expected case is present in ``got`` with an equal value; on a
    mismatch, fail listing each differing case."""
    bad = [
        f"  {k!r}: expected {v!r}, got {got.get(k, '<missing>')!r}"
        for k, v in want.items()
        if k not in got or got[k] != v
    ]
    assert not bad, f"{len(bad)} of {len(want)} cases differ:\n" + "\n".join(bad)


def golden_spans(doc_id: str) -> list[tuple]:
    docs = _load_goldens(GOLDENS)["docs"]
    if doc_id not in docs:
        raise AssertionError(f"no golden span sequence for {doc_id} in {GOLDENS.name}")
    return [tuple(s) for s in docs[doc_id]]


def span_diff(doc_id: str, expected: list[tuple], actual: list[tuple]) -> str:
    """Unified diff of two span sequences, one span per line."""
    fmt = lambda spans: [f"{seq} {kind} {text!r} {ref!r}" for seq, kind, text, ref in spans]  # noqa: E731
    return "\n".join(
        difflib.unified_diff(
            fmt(expected), fmt(actual), f"{doc_id} expected", f"{doc_id} actual", lineterm=""
        )
    )


def expected_spans(doc: dict) -> list[tuple]:
    """Golden span sequence [(seq, kind, text, media_ref)] for one generator
    document, per the shared canonical serialization: from the reference
    extractors when they import, else from the recorded goldens."""
    if not reference_available():
        return golden_spans(doc["doc_id"])
    pages = spans_to_pages(doc["spans"])
    result = run_reference(doc["bank_id"], pages)
    media = [(m, off) for (k, _t, m, off) in doc["spans"] if k == "media"]
    return reference_spans(result, media)
