"""Arrow-vectorized UDFs wrapping the semantic core.

These are the ONLY places Python touches row data in the hot path, and
every one is a batched `pandas_udf` (Arrow transfer, no per-row Python
round trips through Py4J). Sentence segmentation and triple extraction
cross once per document, in `doc_triples_udf`. Byte-identical text
extraction per url is the north-rule invariant — the same `re`-based
functions from ``darkbo_spark.reference_impl`` run here and in the pytest
oracle, so parity is exact by construction (reference behavior:
api/document_processor.py:130-197).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from darkbo_spark import reference_impl as ref

# --- HTML → text -----------------------------------------------------------
# Deterministic tag stripper for the `html:binary` input column (input_hint).
# Production would swap in a real parser via the same UDF seam; the regex
# form is deterministic and dependency-free.

_SCRIPT_STYLE = re.compile(rb"(?is)<(script|style)[^>]*>.*?</\1>")
_TAG = re.compile(rb"(?s)<[^>]+>")


def html_to_text(html: bytes | None) -> str:
    if not html:
        return ""
    stripped = _TAG.sub(b" ", _SCRIPT_STYLE.sub(b" ", html))
    return stripped.decode("utf-8", errors="replace")


@pandas_udf(StringType())
def html_to_text_udf(s: pd.Series) -> pd.Series:
    return s.map(html_to_text)


@pandas_udf(StringType())
def clean_text_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda t: ref.clean_text(t) if t is not None else "")


@pandas_udf(ArrayType(StringType()))
def create_chunks_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda t: ref.create_chunks(t) if t is not None else [])


# S+T in one Arrow crossing per document: segment, then extract per
# sentence, numbering sentences exactly as reference_impl.extract_doc_triples
# does — the only triple-extraction UDF, shared by the pipeline, the
# incremental and streaming paths and every KG registry twin.
DOC_TRIPLES_STRUCT = ArrayType(
    StructType(
        [
            StructField("sent_idx", IntegerType()),
            StructField("subj", StringType()),
            StructField("pred", StringType()),
            StructField("obj", StringType()),
        ]
    )
)


@pandas_udf(DOC_TRIPLES_STRUCT)
def doc_triples_udf(text: pd.Series) -> pd.Series:
    def _one(t: str | None):
        if not t:
            return []
        out = []
        for i, sent in enumerate(ref.split_sentences(t)):
            for s, p, o in ref.extract_triples(sent):
                out.append({"sent_idx": i, "subj": s, "pred": p, "obj": o})
        return out

    return text.map(_one)
