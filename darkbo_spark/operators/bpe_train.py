"""Distributed BPE tokenizer TRAINING — the missing half of the
tokenization story (functions/bpe.py applies a trained merge table; real
data pipelines also have to TRAIN one on their own corpus).

Production trainer shape (Sennrich 2016 / the HuggingFace pipeline): the
corpus-scale work is the pre-token frequency aggregation — one
distributed pass with IN-WORKER partial counting (each Arrow batch emits
its local Counter, so the shuffle carries the batch VOCABULARY, not one
row per token occurrence) — and the merge loop then runs over the
word-frequency table, which is heavy-tail-small (≈10⁵–10⁷ distinct
pre-tokens even at crawl scale) and collapses further every merge. The
loop here is the EXACT same code as the single-string trainer
(functions/bpe.train_from_word_freqs), so distributed ≡ in-memory by
construction once the word multiset matches (pinned in
tests/test_bpe_train.py).

No silent caps: the vocab collect is bounded by `max_vocab`; exceeding
it RAISES unless truncation is explicitly allowed, in which case the
dropped tail (count + frequency mass) is reported, never swallowed.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from darkbo_spark.functions.bpe import _BPE_RE, train_from_word_freqs


def word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq) over the BPE pre-tokenization of the corpus `text` — the
    distributed stage of tokenizer training. Partial counting happens
    inside the Arrow batch (python-side Counter), so the exchange carries
    distinct-words-per-batch, then one hash aggregate finishes."""
    import pandas as pd

    def count_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c: Counter[str] = Counter()
            for t in pdf["text"]:
                if t:
                    c.update(_BPE_RE.findall(t))
            yield pd.DataFrame(
                {"word": list(c.keys()), "freq": list(c.values())}
            )

    partial = docs.select("text").mapInPandas(count_batches, "word string, freq long")
    return partial.groupBy("word").agg(F.sum("freq").cast("bigint").alias("freq"))


def train_merges_distributed(
    docs: DataFrame,
    n_merges: int,
    max_vocab: int = 1_000_000,
    allow_truncation: bool = False,
) -> tuple[list[tuple[str, str]], dict]:
    """Train a merge table on a DataFrame corpus's `text` column. Returns
    (merges, stats);
    stats records the vocab size and any explicitly-allowed truncation.
    Identical output to functions/bpe.train_merges over the concatenated
    corpus (same word multiset → same loop)."""
    wf = word_freqs(docs)
    # deterministic keep-order for the (exceptional) truncated case
    top = wf.orderBy(F.col("freq").desc(), F.col("word")).limit(max_vocab + 1).collect()
    stats = {"vocab_size": len(top), "truncated": False, "dropped_words": 0,
             "dropped_freq": 0}
    if len(top) > max_vocab:
        if not allow_truncation:
            raise ValueError(
                f"pre-token vocabulary exceeds max_vocab={max_vocab}; pass "
                "allow_truncation=True to train on the top slice (the "
                "dropped tail is reported in stats, never silent)"
            )
        tail = wf.orderBy(F.col("freq").desc(), F.col("word")).offset(max_vocab)
        agg = tail.agg(
            F.count("*").alias("n"), F.coalesce(F.sum("freq"), F.lit(0)).alias("f")
        ).collect()[0]
        stats.update(truncated=True, dropped_words=int(agg["n"]),
                     dropped_freq=int(agg["f"]), vocab_size=max_vocab)
        top = top[:max_vocab]
    words: Counter[tuple[str, ...]] = Counter(
        {tuple(r.word): int(r.freq) for r in top}
    )
    return train_from_word_freqs(words, n_merges), stats
