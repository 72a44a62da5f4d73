"""Output checkers. Each compares the engine's output with an answer
computed another way — the pure-Python reference, a from-scratch
recomputation, a full scan taken in set-up, or DuckDB — never with the
fast path under test. Each returns a list of mismatch descriptions;
an empty list means the output is correct.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

from harness import REPO_ROOT


def rows_hash(rows, cols) -> str:
    """Order-insensitive value hash, normalized as the registry's DuckDB
    oracle gate (`scripts/oracle_check.py`) normalizes it."""
    scripts = os.path.join(REPO_ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from oracle_check import value_hash

    return value_hash([tuple(r) for r in rows], list(cols))


def check_same_rows(label: str, got, got_cols, want, want_cols) -> list[str]:
    if sorted(got_cols) != sorted(want_cols):
        return [f"{label}: columns {sorted(got_cols)} != {sorted(want_cols)}"]
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows != {len(want)} expected"]
    if rows_hash(got, got_cols) != rows_hash(want, want_cols):
        return [f"{label}: value hash mismatch over {len(want)} rows"]
    return []


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------


def check_ground_truth(pages: list[dict]) -> list[str]:
    """Triple precision and recall against the generator's ground truth,
    through the pure-Python reference extractor: both must be 1.0.
    `pages` are generator rows carrying `gt_triples`."""
    from darkbo_spark import reference_impl as ref

    got, want = Counter(), Counter()
    for p in pages:
        if p["lang"] != "en":
            continue
        for t in ref.extract_doc_triples(p["url"], p["text"]):
            got[(p["url"], t["subj"], t["pred"], t["obj"])] += 1
        for g in json.loads(p["gt_triples"]):
            want[(p["url"], g["s"], g["p"], g["o"])] += 1
    tp = sum((got & want).values())
    precision = tp / max(1, sum(got.values()))
    recall = tp / max(1, sum(want.values()))
    if not want:
        return ["ground truth: sample holds no triples"]
    if precision != 1.0 or recall != 1.0:
        return [f"ground truth: P={precision:.6f} R={recall:.6f} over {sum(want.values())} triples"]
    return []


def check_raw_triples(pages: list[dict], got_rows) -> list[str]:
    """The engine's raw_triples rows for the sample urls must equal the
    reference extractor's, ids included."""
    from darkbo_spark import reference_impl as ref

    cols = ["url", "sent_idx", "subj", "pred", "obj", "triple_id"]
    want = [
        tuple(t[c] for c in cols)
        for p in pages
        if p["lang"] == "en"
        for t in ref.extract_doc_triples(p["url"], p["text"])
    ]
    got = [tuple(r[c] for c in cols) for r in got_rows]
    return check_same_rows("raw_triples sample", got, cols, want, cols)


def check_stage_counts(rows: dict, n_pages: int) -> list[str]:
    errs = []
    if rows.get("docs") != n_pages:
        errs.append(f"stage rows: docs={rows.get('docs')} != pages={n_pages}")
    if rows.get("raw_triples") != rows.get("kg_triples"):
        errs.append(
            f"stage rows: raw_triples={rows.get('raw_triples')} "
            f"!= kg_triples={rows.get('kg_triples')}"
        )
    if not rows.get("kg_triples"):
        errs.append("stage rows: kg_triples is empty")
    return errs


# ---------------------------------------------------------------------------
# kg_crawl: refresh cycles
# ---------------------------------------------------------------------------


def envelopes_from_mentions(mentions) -> dict:
    """(subj_eid, pred, obj) -> (first_ts, last_ts, n) over linked
    mentions (dicts with subj_eid, pred, obj, warc_ts)."""
    out: dict = {}
    for m in mentions:
        if m["subj_eid"] is None:
            continue
        k = (m["subj_eid"], m["pred"], m["obj"])
        ts = m["warc_ts"]
        cur = out.get(k)
        out[k] = (ts, ts, 1) if cur is None else (
            min(cur[0], ts), max(cur[1], ts), cur[2] + 1
        )
    return out


def check_envelopes(state_rows, mentions) -> list[str]:
    want = envelopes_from_mentions(mentions)
    got = {
        (r["subj_eid"], r["pred"], r["obj"]): (r["first_ts"], r["last_ts"], r["n_mentions"])
        for r in state_rows
    }
    if len(got) != len(state_rows):
        return ["envelopes: duplicate fact keys in the state"]
    if got == want:
        return []
    diff = set(got.items()) ^ set(want.items())
    return [f"envelopes: {len(diff)} differing entries of {len(want)} expected"]


# ---------------------------------------------------------------------------
# kg_crawl: lookups
# ---------------------------------------------------------------------------


def canon(rows) -> list[tuple]:
    """Order-insensitive form of a lookup answer."""
    return sorted(tuple(sorted((k, repr(v)) for k, v in r.items())) for r in rows)


def check_lookup(kind: str, key: str, got_rows, want) -> list[str]:
    got = canon(got_rows)
    if got != want:
        return [f"lookup {kind}({key}): {len(got)} rows, {len(want)} expected"]
    return []
