"""Seeded benchmark inputs, staged once per (generator version, seed, size).

Documents come from ``aide_spark.generator.gen_doc``. A seed selects the
index range ``[seed * n, seed * n + n)``; ``n`` is a multiple of 36, so every
range holds the same mix of the three bank grammars (``i % 3``) and of the
nine validator-taxonomy classes (``i % 4 == 3``, ``(i // 4) % 9``).

Everything here runs before the clock starts and needs no Spark session:
parquet is written with pyarrow, PDFs with ``pdf_codec.encode_pdf``, and
the store a resume job starts from with ``SnapshotStore.commit``.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from aide_spark.generator import CORRECT_PASSWORD, GENERATOR_VERSION, gen_doc
from aide_spark.plans.checkpoint import SnapshotStore
from aide_spark.sources.pdf_codec import encode_pdf

from .check import EXPECTED, doc_class

MIX = 36  # lcm of the bank round-robin (3) and the taxonomy cycle (4 * 9)
FILES_PER_BANK = 8  # bench.py's layout: spark_corpus(partitions=8).partitionBy("bank_id")
CORRUPT_PDF = b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n1 0 obj\n<< /Type /Catalog"

_SPAN = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ]
)
# aide_spark.schemas.DOCUMENTS without bank_id, which is the partition column
_DOCS = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(_SPAN)),
        pa.field("password", pa.string()),
        pa.field("encrypted", pa.bool_()),
        pa.field("declared_size_mb", pa.float64()),
        pa.field("pdf_meta", pa.map_(pa.string(), pa.string())),
    ]
)


def doc_indices(seed: int, n: int) -> range:
    if n % MIX:
        raise ValueError(f"input size {n} is not a multiple of {MIX}")
    return range(seed * n, seed * n + n)


def _staged(root: str, name: str, build) -> str:
    """Build ``root/name`` once; ``_READY`` marks a complete build."""
    path = os.path.join(root, name)
    if not os.path.exists(os.path.join(path, "_READY")):
        shutil.rmtree(path, ignore_errors=True)
        build(path)
        open(os.path.join(path, "_READY"), "w").close()
    return path


def _write_span_table(path: str, indices: range) -> None:
    """Span-table docs, partitioned by bank_id into 8 contiguous files each."""
    docs = [gen_doc(i) for i in indices]
    chunk = -(-len(docs) // FILES_PER_BANK)
    for part in range(FILES_PER_BANK):
        rows = docs[part * chunk:(part + 1) * chunk]
        for bank in ("UNION", "CANARA", "APGVB", None):
            sel = [d for d in rows if d["bank_id"] == bank]
            if not sel:
                continue
            table = pa.table(
                {
                    "doc_id": [d["doc_id"] for d in sel],
                    "spans": [
                        None if d["spans"] is None else [
                            {"kind": k, "text": t, "media_ref": m, "offset": o}
                            for k, t, m, o in d["spans"]
                        ]
                        for d in sel
                    ],
                    "password": [d["password"] for d in sel],
                    "encrypted": [d["encrypted"] for d in sel],
                    "declared_size_mb": [d["declared_size_mb"] for d in sel],
                    "pdf_meta": [
                        None if d["pdf_meta"] is None else list(d["pdf_meta"].items())
                        for d in sel
                    ],
                },
                schema=_DOCS,
            )
            part_dir = os.path.join(path, f"bank_id={bank or '__HIVE_DEFAULT_PARTITION__'}")
            os.makedirs(part_dir, exist_ok=True)
            pq.write_table(table, os.path.join(part_dir, f"part-{part:05d}.parquet"))


def span_table(root: str, seed: int, n: int) -> str:
    """Docs of ``seed`` as a span table."""
    idx = doc_indices(seed, n)
    return _staged(root, f"docs-g{GENERATOR_VERSION}-s{seed}-n{n}", lambda p: _write_span_table(p, idx))


def _write_resume_store(path: str, indices: range, batches: int) -> None:
    """Commit ``indices`` in ``batches`` equal lineage batches, with the
    status and error_code run_with_resume gives each generator class."""
    store = SnapshotStore(path)
    per_batch = len(indices) // batches
    for k in range(batches):
        batch_id = f"b{k + 1}"
        ids = [gen_doc(i)["doc_id"] for i in indices[k * per_batch:(k + 1) * per_batch]]
        want = [EXPECTED["span_table"][doc_class(d)] for d in ids]
        lineage = pa.table({
            "doc_id": ids,
            "batch_id": [batch_id] * len(ids),
            "status": [w[0] for w in want],
            "error_code": [w[1] for w in want],
        })
        batch_dir = os.path.join(path, "lineage", f"batch={batch_id}")
        os.makedirs(batch_dir)
        pq.write_table(lineage, os.path.join(batch_dir, "part-00000.parquet"))
        store.commit(batch_id, {"docs": len(ids)})


def resume_store(root: str, seed: int, n: int, head: int, batches: int) -> str:
    """A store that already committed the first ``head`` docs of ``seed``
    in ``batches`` batches. It holds what the resume path reads (committed
    lineage); the earlier batches' spans are not written."""
    idx = doc_indices(seed, n)[:head]
    name = f"store-g{GENERATOR_VERSION}-s{seed}-n{n}-h{head}-b{batches}"
    return _staged(root, name, lambda p: _write_resume_store(p, idx, batches))


def _write_pdfs(path: str, indices: range) -> None:
    pdf_dir = os.path.join(path, "pdf")
    os.makedirs(pdf_dir)
    passwords = []
    for i in indices:
        d = gen_doc(i)
        if d["spans"] is None:
            payload = CORRUPT_PDF
        else:
            # encrypted docs are locked with the correct password; the
            # passwords table carries what the user supplied (right, wrong
            # or nothing), exactly like the generator's password column
            payload = encode_pdf(
                d["spans"],
                password=CORRECT_PASSWORD if d["encrypted"] else None,
                metadata=d["pdf_meta"],
            )
            if d["password"] is not None:
                passwords.append((d["doc_id"], d["password"]))
        with open(os.path.join(pdf_dir, f"{d['doc_id']}.pdf"), "wb") as fh:
            fh.write(payload)
    pq.write_table(
        pa.table(
            {"doc_id": [p[0] for p in passwords], "password": [p[1] for p in passwords]},
            schema=pa.schema([("doc_id", pa.string()), ("password", pa.string())]),
        ),
        os.path.join(path, "passwords.parquet"),
    )


def raw_pdfs(root: str, seed: int, n: int) -> tuple[str, str]:
    """Docs of ``seed`` as real .pdf files → (pdf dir, passwords parquet)."""
    idx = doc_indices(seed, n)
    path = _staged(root, f"pdf-g{GENERATOR_VERSION}-s{seed}-n{n}", lambda p: _write_pdfs(p, idx))
    return os.path.join(path, "pdf"), os.path.join(path, "passwords.parquet")
