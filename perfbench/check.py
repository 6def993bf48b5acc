"""Output checks, run after the clock stops.

Each input doc is one operation. A doc fails when its lineage row is
missing, duplicated or has the wrong status for its generator class, when
its spans break the output contract (seq 0..n-1, kinds in the order
meta, media, txn, summary; none for docs no parser extracts), or when its
digest differs from the golden recorded for this seed. The digest covers
status, error_code and the ordered (seq, kind, text, media_ref) spans.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import defaultdict

import pyarrow.parquet as pq

from aide_spark.generator import GENERATOR_VERSION
from aide_spark.plans.checkpoint import SnapshotStore

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens")
KIND_RANK = {"meta": 0, "media": 1, "txn": 2, "summary": 3}

# (status, error_code, has spans) of every generator class, per input
# path. On the raw-PDF path bank_id comes from the file name, so taxonomy
# docs (BAD-*) route to no parser and commit without spans, and the file
# size is the real one, so large_file docs pass the size gate.
_BANKS = {b: ("committed", "VALID", True) for b in ("UNION", "CANARA", "APGVB")}
_REJECTED = {
    "CORRUPTED": ("quarantined", "CORRUPTED", False),
    "SCANNED": ("quarantined", "NO_TEXT_CONTENT", False),
    "ENCRYPTEDWRONGPW": ("quarantined", "WRONG_PASSWORD", False),
    "ENCRYPTEDNOPW": ("quarantined", "ENCRYPTED_NO_PASSWORD", False),
    "EMPTY": ("quarantined", "EMPTY_PDF", False),
    "MANYPAGES": ("quarantined", "TOO_MANY_PAGES", False),
}
EXPECTED = {
    "span_table": {
        **_BANKS, **_REJECTED,
        "HYBRID": ("committed", "VALID", True),
        "ENCRYPTEDOK": ("committed", "VALID", True),
        "LARGEFILE": ("quarantined", "FILE_TOO_LARGE", False),
    },
    "raw_pdf": {
        **_BANKS, **_REJECTED,
        "HYBRID": ("committed", "VALID", False),
        "ENCRYPTEDOK": ("committed", "VALID", False),
        "LARGEFILE": ("committed", "VALID", False),
    },
}
SKIPPED = ("skipped", None, False)


def doc_class(doc_id: str) -> str:
    """``UNION-000012`` → UNION; ``BAD-ENCRYPTEDOK-000015`` → ENCRYPTEDOK."""
    parts = doc_id.split("-")
    return parts[1] if parts[0] == "BAD" else parts[0]


def digest(status: str, error_code: str | None, spans: list[tuple]) -> str:
    blob = json.dumps([status, error_code, spans], separators=(",", ":"))
    return hashlib.sha1(blob.encode()).hexdigest()[:16]


def read_batch(store_base: str, batch_id: str) -> tuple[list, dict]:
    """(lineage rows, doc_id → ordered spans) of one committed batch, read
    with pyarrow so that the check starts no Spark job."""
    def rows(table, columns):
        path = os.path.join(store_base, table, f"batch={batch_id}")
        return zip(*(pq.read_table(path, columns=columns).to_pydict()[c] for c in columns))

    lineage = list(rows("lineage", ["doc_id", "status", "error_code"]))
    spans = defaultdict(list)
    for doc_id, *span in rows("spans", ["doc_id", "seq", "kind", "text", "media_ref"]):
        spans[doc_id].append(tuple(span))
    return lineage, {d: sorted(s) for d, s in spans.items()}


def _spans_ok(has_spans: bool, spans: list[tuple]) -> bool:
    if not has_spans:
        return not spans
    ranks = [KIND_RANK.get(s[1], -1) for s in spans]
    return (
        bool(spans)
        and [s[0] for s in spans] == list(range(len(spans)))
        and min(ranks) >= 0
        and ranks == sorted(ranks)
    )


def _golden_path(workload: str) -> str:
    return os.path.join(GOLDENS, f"{workload}.json")


def load_goldens(workload: str) -> dict:
    try:
        with open(_golden_path(workload)) as fh:
            data = json.load(fh)
    except FileNotFoundError:
        return {}
    return data["seeds"] if data["generator_version"] == GENERATOR_VERSION else {}


def check_batch(
    store_base: str, batch_id: str, expected: dict[str, str], golden: dict | None
) -> tuple[list[str], dict[str, str]]:
    """→ (failures, doc_id → digest of the docs this batch extracted).

    ``expected`` maps every input doc_id to the path key of EXPECTED, or to
    ``"skipped"`` for docs an earlier batch already committed."""
    lineage, spans = read_batch(store_base, batch_id)
    seen = defaultdict(list)
    for doc_id, status, code in lineage:
        seen[doc_id].append((status, code))
    committed = {c["batch_id"] for c in SnapshotStore(store_base).committed()}
    if batch_id not in committed:
        return [f"batch {batch_id} not committed"] * len(expected), {}
    failures, digests = [], {}
    for doc_id, path in expected.items():
        rows = seen.get(doc_id, [])
        want = SKIPPED if path == "skipped" else EXPECTED[path].get(doc_class(doc_id), (None,) * 3)
        doc_spans = spans.get(doc_id, [])
        if rows != [want[:2]]:
            failures.append(f"{doc_id}: lineage {rows}, expected {want[:2]}")
        elif not _spans_ok(want[2], doc_spans):
            failures.append(f"{doc_id}: {len(doc_spans)} spans break the output contract")
        elif path != "skipped":
            digests[doc_id] = digest(want[0], want[1], doc_spans)
            if golden is not None and golden.get(doc_id) != digests[doc_id]:
                failures.append(f"{doc_id}: digest {digests[doc_id]} != golden {golden.get(doc_id)}")
    failures += [f"{d}: not an input doc" for d in (set(seen) | set(spans)) - set(expected)]
    return failures, digests


def record_goldens(workload: str, seed: int, digests: dict[str, str]) -> None:
    try:
        with open(_golden_path(workload)) as fh:
            data = json.load(fh)
    except FileNotFoundError:
        data = {}
    if data.get("generator_version") != GENERATOR_VERSION:
        data = {"generator_version": GENERATOR_VERSION, "seeds": {}}
    data["seeds"][str(seed)] = dict(sorted(digests.items()))
    os.makedirs(GOLDENS, exist_ok=True)
    with open(_golden_path(workload), "w") as fh:
        json.dump(data, fh, indent=0, sort_keys=True)
        fh.write("\n")
