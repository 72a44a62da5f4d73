"""Sources: JSON collections with uuid5 re-derivation, TSV registry, text
fallback decoding, document ingestion end-to-end."""

import json

import pandas as pd
import pyspark.sql.functions as F

from darkbo_spark import reference_impl as ref
from darkbo_spark.sources.ingest_documents import PLACEHOLDER_TEXT, ingest_documents
from darkbo_spark.sources.readers import (
    read_attachments,
    read_faq_json,
    read_kb_json,
    read_project_registry,
    read_text_files,
    unified_items,
)


def test_faq_json_roundtrip(spark, tmp_path):
    rows = [
        {
            "id": None,
            "question": " What is X? ",
            "answer": " X is Y. ",
            "created_at": "2024-01-01T10:00:00Z",
            "updated_at": "2024-01-02T11:30:00.123456Z",
            "source": "manual",
            "source_file": None,
        }
    ]
    p = tmp_path / "175.faq.json"
    p.write_text(json.dumps(rows))
    out = read_faq_json(spark, str(p), "175").collect()
    assert len(out) == 1
    r = out[0]
    assert r.id == ref.uuid5_id("faq", "175", "What is X?", "X is Y.")
    assert r.created_at.isoformat().startswith("2024-01-01T10:00:00")
    assert r.updated_at.microsecond == 123456


def test_kb_json_and_unified(spark, tmp_path):
    kb_rows = [
        {
            "id": "fixed-id",
            "article": "Guide",
            "content": "Some content here.",
            "created_at": "2024-01-01T00:00:00Z",
            "updated_at": "2024-01-01T00:00:00Z",
            "source": "doc",
            "source_file": "g.txt",
            "chunk_index": 0,
        }
    ]
    faq_rows = [
        {
            "id": None,
            "question": "Q1",
            "answer": "A1",
            "created_at": "2024-01-01T00:00:00Z",
            "updated_at": "2024-01-01T00:00:00Z",
            "source": "manual",
            "source_file": None,
        }
    ]
    kb_p = tmp_path / "95.kb.json"
    kb_p.write_text(json.dumps(kb_rows))
    faq_p = tmp_path / "95.faq.json"
    faq_p.write_text(json.dumps(faq_rows))
    kb = read_kb_json(spark, str(kb_p), "95")
    faqs = read_faq_json(spark, str(faq_p), "95")
    assert kb.first().id == "fixed-id"  # provided ids win
    items = {(r.type, r.content) for r in unified_items(faqs, kb).collect()}
    assert ("faq", "Q1 A1") in items  # question ⧺ answer concat
    assert ("kb", "Some content here.") in items


def test_registry_tsv(spark, tmp_path):
    p = tmp_path / "proj_mapping.txt"
    p.write_text("175\tACLU\n95\tASPCA\n")
    got = {r.project_id: r.name for r in read_project_registry(spark, str(p)).collect()}
    assert got == {"175": "ACLU", "95": "ASPCA"}


def test_text_fallback_decoding(spark, tmp_path):
    (tmp_path / "texts").mkdir()
    (tmp_path / "texts" / "ok.txt").write_bytes("utf-8 text ✓".encode("utf-8"))
    (tmp_path / "texts" / "legacy.txt").write_bytes("caf\xe9".encode("latin-1"))
    got = {
        r.path.rsplit("/", 1)[-1]: r.text
        for r in read_text_files(spark, str(tmp_path / "texts")).collect()
    }
    assert got["ok.txt"] == "utf-8 text ✓"
    assert got["legacy.txt"] == "café"


def test_attachments_are_opaque_blobs(spark, tmp_path):
    """S10/S11: every file under the path comes back byte-exact with its
    length, whatever its encoding — a zero-length file too."""
    (tmp_path / "att").mkdir()
    blobs = {
        "scan.pdf": b"%PDF-1.4\x00\xff\xfe",
        "note.txt": "naïve\n".encode("latin-1"),
        "empty.bin": b"",
    }
    for name, data in blobs.items():
        (tmp_path / "att" / name).write_bytes(data)
    df = read_attachments(spark, str(tmp_path / "att"))
    assert df.columns == ["path", "length", "modificationTime", "content"]
    got = {
        r.path.rsplit("/", 1)[-1]: (r.length, bytes(r.content)) for r in df.collect()
    }
    assert got == {name: (len(data), data) for name, data in blobs.items()}


def test_ingest_documents_end_to_end(spark, tmp_path):
    long_text = ("A sentence about knowledge bases. " * 80).encode()
    files = spark.createDataFrame(
        pd.DataFrame(
            {"path": ["docs/annual_report-2024.txt", "docs/image.bin"],
             "content": [long_text, b"\x00\x01"]}
        )
    )
    out = ingest_documents(files, "175").collect()
    by_article = {}
    for r in out:
        by_article.setdefault(r.article, []).append(r)
    assert "Annual Report 2024" in by_article  # P8 title derivation
    chunks = sorted(by_article["Annual Report 2024"], key=lambda r: r.chunk_index)
    cleaned = ref.clean_text(long_text.decode())
    assert [c.content for c in chunks] == ref.create_chunks(cleaned)
    for c in chunks:
        assert c.id == ref.uuid5_id(
            "kb", "175", "Annual Report 2024",
            __import__("hashlib").sha256(c.content.encode()).hexdigest(),
        )
    # unsupported extension → placeholder text path
    assert "Image" in by_article
    assert by_article["Image"][0].content == ref.clean_text(PLACEHOLDER_TEXT)
