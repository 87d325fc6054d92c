"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows in the same order, and a different seed gives a different input
of the same shape (row counts, day span, skew). The program under test
never sees the seed, only the parquet files written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from insar_spark.synth import synth_transcripts_pandas

_DAY_US = 86_400 * 1_000_000
CORE_START = np.datetime64("2025-03-03T00:00:00", "us")


@dataclass(frozen=True)
class TurnsShape:
    """Shape of a transcripts input: conversations squeezed into a dense
    core of ``days`` days, one mega-conversation every ``mega_every``."""

    n_convs: int
    days: int
    mega_every: int
    mega_turns: int


def make_turns(seed: int, shape: TurnsShape) -> pd.DataFrame:
    """Seeded ``synth_transcripts`` rows with starts reshaped into a dense
    core of ``shape.days`` days.

    The stock generator staggers conversation starts by 7,919 s each and
    lets mega-conversations run for years, so its default shape spreads
    over more than a thousand day-partitions with a few dozen turns each.
    Here each conversation keeps its turn count and turn order, its span
    is squeezed to at most half the core, and its start is drawn by
    stratified sampling so that it ends inside the core. Mega-conversations keep
    every turn, which is the skew the tier builders must absorb."""
    pdf = synth_transcripts_pandas(
        n_convs=shape.n_convs,
        seed=seed,
        mega_every=shape.mega_every,
        mega_turns=shape.mega_turns,
    )
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    ts = pdf["ts"].to_numpy().astype("int64")
    codes, uniq = pd.factorize(pdf["conv_id"])
    t0 = np.full(len(uniq), np.iinfo(np.int64).max)
    t1 = np.full(len(uniq), np.iinfo(np.int64).min)
    np.minimum.at(t0, codes, ts)
    np.maximum.at(t1, codes, ts)
    span = np.maximum(t1 - t0, 1)
    core = shape.days * _DAY_US
    new_span = np.minimum(span, core // 2)
    # stratified starts with antithetic jitter, mega-conversations as their
    # own stratum: each seed moves every conversation, but the turns per
    # day stay level, so seeds differ in placement and not in volume
    sizes = np.bincount(codes)
    start = np.empty(len(uniq), dtype=np.int64)
    for stratum in (sizes >= shape.mega_turns, sizes < shape.mega_turns):
        idx = rng.permutation(np.flatnonzero(stratum))
        u = rng.random(len(idx))
        u[1::2] = 1.0 - u[0::2][: len(idx) // 2]
        pos = (np.arange(len(idx)) + u) / max(len(idx), 1)
        start[idx] = (pos * (core - new_span[idx] - 1)).astype(np.int64)
    off = ((ts - t0[codes]) * (new_span / span)[codes]).astype(np.int64)
    pdf["ts"] = (CORE_START.astype("int64") + start[codes] + off).astype(
        "datetime64[us]"
    )
    return pdf


def mega_convs(pdf: pd.DataFrame, mega_turns: int) -> set:
    """Conversations with at least ``mega_turns`` turns."""
    per_conv = pdf["conv_id"].value_counts()
    return set(per_conv.index[per_conv >= mega_turns])


def turns_properties(pdf: pd.DataFrame, megas: set) -> dict:
    """Input properties; ``megas`` come from the whole generated input, so
    a mega-conversation cut short by the end of the run still counts."""
    per_day = pdf["ts"].dt.strftime("%Y-%m-%d").value_counts()
    return {
        "turns": int(len(pdf)),
        "conversations": int(pdf["conv_id"].nunique()),
        "day_partitions": int(len(per_day)),
        "turns_per_day_median": float(per_day.median()),
        "turns_per_day_max": int(per_day.max()),
        "mega_share": round(float(pdf["conv_id"].isin(megas).mean()), 4),
    }


def write_parquet(pdf: pd.DataFrame, path: str, name: str = "part-0.parquet") -> str:
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, name)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), out)
    return out


def day_drops(pdf: pd.DataFrame) -> list[pd.DataFrame]:
    """Split turns into time-ordered day drops (one drop per UTC day)."""
    day = pdf["ts"].dt.strftime("%Y-%m-%d")
    return [pdf[day == d].reset_index(drop=True) for d in sorted(day.unique())]


# ------------------------------------------------------------ analytics

# The analytics tables follow the repository's sf test data, measured at
# sf0.01 (and sf0.1 where a rate needs more rows); README "Analytics
# input" lists the measurements. events: ts uniform over 30 days and
# sorted (so the gaps are exponential), uniform user_id and event_type,
# value exponential with mean 50 rounded to cents, props '{"k": 0..99}'.
# documents: 10-100 words drawn uniformly from a 30-word vocabulary, 5 %
# replaced by another document's original text plus " dup" (two such
# copies of one text are the exact duplicates), round-robin sources.
# embeddings: unit-norm Gaussian vectors, uniform labels 0-9.
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_EVENT_VALUE_MEAN = 50.0
_VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_WORDS = (10, 100)
_NEAR_DUP_SHARE = 0.05
_SOURCES = 20
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])  # sf0.1 mix, 5,000 documents


@dataclass(frozen=True)
class TablesShape:
    """Row counts of the three tables the analytics queries read (sf0.01:
    10,000 events from 150 users over 30 days, 500 documents, 500
    64-dimensional embeddings)."""

    events: int
    users: int
    days: int
    documents: int
    embeddings: int
    dim: int = 64


def make_tables(seed: int, shape: TablesShape) -> dict[str, pd.DataFrame]:
    """Seeded ``events``, ``documents`` and ``embeddings`` tables with the
    schema and value distributions of the sf test data, stored in a
    seeded row order (nothing downstream may depend on file order)."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 2]))
    n = shape.events
    ts_us = np.sort(rng.integers(0, shape.days * _DAY_US, n))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": (np.datetime64("2024-01-01T00:00:00", "us").astype("int64") + ts_us)
            .astype("datetime64[us]"),
            "user_id": rng.integers(0, shape.users, n).astype(np.int64),
            "event_type": _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n)],
            "value": np.round(rng.exponential(_EVENT_VALUE_MEAN, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )

    m = shape.documents
    lo, hi = _WORDS
    original = [
        " ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)])
        for k in rng.integers(lo, hi + 1, m)
    ]
    texts = list(original)
    for i in rng.choice(m, round(_NEAR_DUP_SHARE * m), replace=False):
        j = (i + int(rng.integers(1, m))) % m  # any other document
        texts[i] = original[j] + " dup"  # near-duplicate, the minhash target
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(m, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.choice(len(_LANGS), m, p=_LANG_P)],
            "source": [f"src{i % _SOURCES}" for i in range(m)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    v = rng.standard_normal((shape.embeddings, shape.dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(shape.embeddings, dtype=np.int64),
            "embedding": list(v),
            "label": rng.integers(0, 10, shape.embeddings).astype(np.int32),
        }
    )
    tables = {"events": events, "documents": documents, "embeddings": embeddings}
    return {
        name: df.iloc[rng.permutation(len(df))].reset_index(drop=True)
        for name, df in tables.items()
    }


def write_tables(tables: dict[str, pd.DataFrame], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(sf_dir, f"{name}.parquet"),
        )


def tables_properties(tables: dict[str, pd.DataFrame]) -> dict:
    ev = tables["events"]
    per_user = ev["user_id"].value_counts()
    return {
        "events": int(len(ev)),
        "series": int(len(per_user)),
        "events_per_series_median": float(per_user.median()),
        "events_per_series_max": int(per_user.max()),
        "event_days": int(ev["ts"].dt.strftime("%Y-%m-%d").nunique()),
        "documents": int(len(tables["documents"])),
        "near_dup_documents": int(
            tables["documents"]["text"].str.endswith(" dup").sum()
        ),
        "exact_dup_documents": int(
            tables["documents"]["text"].duplicated(keep=False).sum()
        ),
        "embeddings": int(len(tables["embeddings"])),
    }
