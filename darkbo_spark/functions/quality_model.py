"""Trained quality classifier — the model-based tier above the heuristic
quality_score and the unigram LM (functions/text_analysis.py): a logistic
regression over the repo's oracled quality signals, trained at import time
with a FIXED-iteration, fixed-order full-batch gradient descent on an
embedded labeled corpus — weights are bit-reproducible across runs,
machines, and hash seeds (the same no-external-data discipline as the BPE
merge table and the unigram LM), so they inline as literals into both the
Spark expression and the DuckDB oracle.

Serving is a NATIVE column expression (zero UDF in the hot path): every
feature is an already-cross-engine-proven ratio rounded to 6 dp on both
sides, the linear combination folds left-to-right with repr()-round-tripped
weight literals, so the logit is bit-identical in Spark and DuckDB. The
classification thresholds the UNROUNDED logit at 0 (sigmoid is monotone —
p > 0.5 ⇔ z > 0), which avoids putting a transcendental (exp) on the
cross-engine hash path.

The real-model seam is EXECUTABLE, mirroring functions/embed.py: set
``DARKBO_REAL_QUALITY=1`` (and ``DARKBO_QUALITY_MODEL=/path/model.bin``)
and `quality_prob_udf` scores through a fastText adapter instead of the
trained linear model — failing LOUDLY if fasttext is missing rather than
silently mixing scorers (tests prove the adapter contract with a fake and
auto-skip the real-library test).
"""

from __future__ import annotations

import math
import os
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from darkbo_spark.functions import text_analysis as ta

REAL_QUALITY_ENV = "DARKBO_REAL_QUALITY"
QUALITY_MODEL_ENV = "DARKBO_QUALITY_MODEL"

# ---------------------------------------------------------------------------
# Embedded labeled training set: prose sentences (label 1) vs the junk
# classes a web-corpus filter exists to drop (label 0) — keyword stuffing,
# punctuation noise, too-short fragments, unbroken gibberish runs.
# ---------------------------------------------------------------------------


def _good_docs() -> list[str]:
    from darkbo_spark.functions.bpe import _TRAIN_CORPUS

    sents = [s.strip() for s in _TRAIN_CORPUS.split(". ") if len(s.strip()) >= 50]
    extra = [
        "the scheduler keeps a queue of pending tasks and assigns each one "
        "to the first executor with a free slot in the cluster",
        "a broadcast join ships the small table to every executor so the "
        "large side never moves across the network at all",
        "late arriving events are held in state until the watermark passes "
        "and the window finally closes for the aggregation",
        "the optimizer prunes columns that no operator reads and pushes the "
        "filters down to the scan of the parquet files",
    ]
    return sents + extra


def _bad_docs() -> list[str]:
    stuffing = [
        ("buy now " * k).strip() for k in (12, 20, 30)
    ] + [("cheap deals best price " * k).strip() for k in (8, 14)]
    noise = ["!!! ??? ... ;;; ::: !!! ??? ... ;;; :::" * k for k in (2, 4, 6)]
    short = ["ok", "yes", "click here", "home", "menu page"]
    gibberish = [
        "x" * 80,
        "qwertyuiopasdfghjklzxcvbnm" * 5,
        ("zzzzzzzzzzzzzzzzzzzz " * 6).strip(),
    ]
    return stuffing + noise + short + gibberish


# ---------------------------------------------------------------------------
# Features — Python twin used ONLY for training; serving recomputes the
# identical definitions as native Spark columns / DuckDB SQL (both rounded
# to 6 dp per feature, the repo's cross-engine float discipline).
# ---------------------------------------------------------------------------

_PUNCT = set(".,;:!?")


def _py_features(text: str) -> list[float]:
    toks = [t for t in re.split(" +", text.lower()) if t]
    n_tok = len(toks)
    stop = sum(1 for t in toks if t in ta.EN_STOPWORDS)
    f_stop = round(stop / n_tok, 6) if n_tok else 0.0
    punct = sum(1 for c in text if c in _PUNCT)
    f_punct = round(punct / len(text), 6) if text else 0.0
    f_dup = round(1.0 - len(set(toks)) / n_tok, 6) if n_tok else 0.0
    mean_len = (len(text) / n_tok) if n_tok else 0.0
    f_mean = round(min(mean_len, 20.0) / 20.0, 6)
    f_len = 1.0 if 50 <= len(text) <= 20000 else 0.0
    return [f_stop, f_punct, f_dup, f_mean, f_len]


def _train_logistic() -> list[float]:
    """Full-batch gradient descent (400 steps of size 1), fixed example
    order, float64 throughout — the weights are a pure function of the
    embedded corpus. Returns [bias, w_stop, w_punct, w_dup, w_mean, w_len]."""
    rows = [(t, 1.0) for t in _good_docs()] + [(t, 0.0) for t in _bad_docs()]
    feats = [_py_features(t) for t, _ in rows]
    labels = [y for _, y in rows]
    nw = len(feats[0]) + 1
    w = [0.0] * nw
    n = float(len(rows))
    for _ in range(400):
        g = [0.0] * nw
        for x, y in zip(feats, labels):
            z = w[0]
            for j, xj in enumerate(x):
                z += w[j + 1] * xj
            p = 1.0 / (1.0 + math.exp(-z))
            d = p - y
            g[0] += d
            for j, xj in enumerate(x):
                g[j + 1] += d * xj
        for j in range(nw):
            w[j] -= g[j] / n
    return w


WEIGHTS = _train_logistic()


# ---------------------------------------------------------------------------
# Serving: native column expression + DuckDB twin (bit-identical logit)
# ---------------------------------------------------------------------------


def _spark_features(text: Column) -> list[Column]:
    toks = ta.tokens(text)
    n_tok = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin(ta.EN_STOPWORDS)))
    f_stop = F.round(
        F.when(n_tok > 0, stop.cast("double") / n_tok.cast("double")).otherwise(0.0), 6
    )
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    f_punct = F.round(
        F.when(
            F.length(text) > 0, punct.cast("double") / F.length(text).cast("double")
        ).otherwise(0.0),
        6,
    )
    f_dup = F.round(
        F.when(
            n_tok > 0,
            1.0 - F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double"),
        ).otherwise(0.0),
        6,
    )
    mean_len = F.when(
        n_tok > 0, F.length(text).cast("double") / n_tok.cast("double")
    ).otherwise(0.0)
    f_mean = F.round(F.least(mean_len, F.lit(20.0)) / 20.0, 6)
    f_len = F.when((F.length(text) >= 50) & (F.length(text) <= 20000), 1.0).otherwise(0.0)
    return [f_stop, f_punct, f_dup, f_mean, f_len]


def quality_logit(text: Column) -> Column:
    """z = b + Σ wᵢ·fᵢ, folded left-to-right over 6dp-rounded features with
    repr()-exact weight literals — bit-identical to sql_quality_logit."""
    z = F.lit(WEIGHTS[0])
    for w, f in zip(WEIGHTS[1:], _spark_features(text)):
        z = z + F.lit(w) * f
    return z


def quality_label(text: Column) -> Column:
    """1 = keep (p > 0.5 ⇔ unrounded logit > 0), 0 = drop."""
    return F.when(quality_logit(text) > 0.0, 1).otherwise(0)


def _sql_features(text: str) -> list[str]:
    toks = f"list_filter(string_split_regex(lower({text}), ' +'), x -> x <> '')"
    stops = ", ".join(f"'{w}'" for w in ta.EN_STOPWORDS)
    f_stop = (
        f"round(CASE WHEN len({toks}) > 0 THEN "
        f"CAST(len(list_filter({toks}, x -> x in ({stops}))) AS DOUBLE)"
        f" / CAST(len({toks}) AS DOUBLE) ELSE 0.0 END, 6)"
    )
    f_punct = (
        f"round(CASE WHEN length({text}) > 0 THEN "
        f"CAST(length(regexp_replace({text}, '[^.,;:!?]', '', 'g')) AS DOUBLE)"
        f" / CAST(length({text}) AS DOUBLE) ELSE 0.0 END, 6)"
    )
    f_dup = (
        f"round(CASE WHEN len({toks}) > 0 THEN "
        f"1.0 - CAST(len(list_distinct({toks})) AS DOUBLE)"
        f" / CAST(len({toks}) AS DOUBLE) ELSE 0.0 END, 6)"
    )
    mean_len = (
        f"(CASE WHEN len({toks}) > 0 THEN CAST(length({text}) AS DOUBLE)"
        f" / CAST(len({toks}) AS DOUBLE) ELSE 0.0 END)"
    )
    f_mean = f"round(least({mean_len}, CAST(20.0 AS DOUBLE)) / 20.0, 6)"
    f_len = f"(CASE WHEN length({text}) BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)"
    return [f_stop, f_punct, f_dup, f_mean, f_len]


def sql_quality_logit(text: str) -> str:
    terms = [f"CAST('{WEIGHTS[0]!r}' AS DOUBLE)"]
    for w, f in zip(WEIGHTS[1:], _sql_features(text)):
        terms.append(f"CAST('{w!r}' AS DOUBLE) * {f}")
    return "(" + " + ".join(terms) + ")"


def sql_quality_label(text: str) -> str:
    return f"(CASE WHEN {sql_quality_logit(text)} > 0.0 THEN 1 ELSE 0 END)"


# ---------------------------------------------------------------------------
# Model seam (Arrow UDF path): trained linear scorer by default, fastText
# behind DARKBO_REAL_QUALITY=1
# ---------------------------------------------------------------------------


class _LinearScorer:
    """The trained model served from Python (the UDF twin of the native
    expression): sigmoid of the same logit over the same features."""

    def predict_proba(self, texts: list[str]) -> list[float]:
        out = []
        for t in texts:
            x = _py_features(t or "")
            z = WEIGHTS[0]
            for j, xj in enumerate(x):
                z += WEIGHTS[j + 1] * xj
            out.append(1.0 / (1.0 + math.exp(-z)))
        return out


class _FastTextScorer:
    """Adapter giving a fastText-style `model.predict(list[str])` the same
    contract as _LinearScorer: P(keep) per text. fastText returns
    (labels, probs) per input; '__label__keep'/'__label__1' count as the
    positive class."""

    def __init__(self, model):
        self._model = model

    def predict_proba(self, texts: list[str]) -> list[float]:
        clean = [(t or "").replace("\n", " ") for t in texts]
        labels, probs = self._model.predict(clean)
        out = []
        for lab, pr in zip(labels, probs):
            p = float(pr[0])
            out.append(p if lab[0] in ("__label__keep", "__label__1") else 1.0 - p)
        return out


def _load_scorer():
    """The quality-model seam. DARKBO_REAL_QUALITY=1 → fastText (loud
    failure if missing); default → the trained linear model."""
    if os.environ.get(REAL_QUALITY_ENV) == "1":
        try:
            import fasttext
        except ImportError as e:
            raise RuntimeError(
                f"{REAL_QUALITY_ENV}=1 but fasttext is not installed — "
                "install it or unset the flag (falling back silently would "
                "mix scorers within one corpus)"
            ) from e
        path = os.environ.get(QUALITY_MODEL_ENV)
        if not path:
            raise RuntimeError(
                f"{REAL_QUALITY_ENV}=1 requires {QUALITY_MODEL_ENV}=/path/to/model.bin"
            )
        return _FastTextScorer(fasttext.load_model(path))
    return _LinearScorer()


@pandas_udf(DoubleType())
def quality_prob_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    scorer = _load_scorer()  # once per python worker, reused across batches
    for s in it:
        yield pd.Series(scorer.predict_proba(s.fillna("").tolist()))
