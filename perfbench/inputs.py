"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Every table is a pure function of the seed and the size constants below,
so one seed always yields byte-identical inputs.  The shapes mirror the
engine's own test data: a TPC-H-style ``orders`` table for the tax-family
queries, ``documents`` and ``embeddings`` for the dedup/ANN family, a
transactions CSV with injected malformed rows for the CLI report path, and
a backlog of transaction parquet files for the streaming drain.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
from dataclasses import dataclass
from decimal import Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes.  They are part of the benchmark definition: changing one
# changes every figure the benchmark reports.
ORDERS_ROWS = 150_000  # sf0.1 of the TPC-H-style orders table
CUSTOMERS = 15_000
CSV_ROWS = 15_000  # compliance report input
CSV_MALFORMED_SHARE = 0.02
STREAM_FILES = 16  # two micro-batches at the monitor's 8 files/trigger
STREAM_ROWS_PER_FILE = 1_000
DOCS = 1_200
DOC_DUP_SHARE = 0.08
EMBEDDINGS = 1_000
EMB_DIM = 64
EMB_CLUSTERS = 10
EMB_DUP_SHARE = 0.05

_BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SYLLABLES = "ka lo mi ne su ta ri po de fa gu ho ja be ci vo".split()
# A 2,000-word vocabulary with Zipf-like weights: unrelated documents share
# few shingles, so the dedup families report the planted near-duplicates
# rather than chance overlaps of a tiny vocabulary.
_VOCAB = _BASE_WORDS + [
    a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES
][: 2000 - len(_BASE_WORDS)]
_WEIGHTS = 1.0 / (np.arange(len(_VOCAB)) + 10.0)
_WEIGHTS /= _WEIGHTS.sum()
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
_EPOCH = dt.date(1970, 1, 1)


@dataclass(frozen=True)
class Inputs:
    data_dir: Path  # orders / documents / embeddings parquet
    csv_path: Path
    csv_rows: int  # data rows in the CSV, header excluded
    csv_malformed: int  # rows the CSV scan must reject
    stream_dir: Path


def _states() -> tuple[list[str], dict[str, list[str]]]:
    seeds = Path(__file__).resolve().parent.parent / (
        "tax_compliance_engine_spark/seeds"
    )
    states = sorted(
        r["state_code"]
        for r in json.loads((seeds / "state_rates.json").read_text())
    )
    cities: dict[str, list[str]] = {}
    for r in json.loads((seeds / "local_rates.json").read_text()):
        cities.setdefault(r["state_code"], []).append(r["jurisdiction"])
    return states, cities


def _orders(rng: np.random.Generator, path: Path) -> None:
    n = ORDERS_ROWS
    lo = (dt.date(1995, 1, 1) - _EPOCH).days
    hi = (dt.date(2001, 12, 31) - _EPOCH).days
    days = rng.integers(lo, hi + 1, n)
    cents = rng.integers(90_000, 50_000_000, n)
    table = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(1, CUSTOMERS + 1, n)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
            "o_totalprice": pa.array(
                [round(c / 100, 2) for c in cents.tolist()], pa.float64()
            ),
            "o_orderdate": pa.array(
                days.astype("datetime64[D]").astype("datetime64[us]")
            ),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)
            ),
        }
    )
    pq.write_table(table, path)


def _documents(rng: np.random.Generator, path: Path) -> None:
    texts: list[str] = []
    for i in range(DOCS):
        if i > 10 and rng.random() < DOC_DUP_SHARE:
            # near-duplicate: a copy of an earlier document with a few
            # words replaced, so the dedup families find real pairs
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _VOCAB[
                    int(rng.integers(0, len(_VOCAB)))
                ]
            words.append("dup")
        else:
            words = [
                _VOCAB[j]
                for j in rng.choice(len(_VOCAB), int(rng.integers(5, 31)), p=_WEIGHTS)
            ]
        texts.append(" ".join(words))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, DOCS)),
            "source": pa.array([f"src{i % 20}" for i in range(DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def _embeddings(rng: np.random.Generator, path: Path) -> None:
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, EMBEDDINGS)
    vecs = centres[labels] + rng.normal(scale=3.0, size=(EMBEDDINGS, EMB_DIM))
    for i in range(1, EMBEDDINGS):
        if rng.random() < EMB_DUP_SHARE:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.01, size=EMB_DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(EMBEDDINGS, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    pq.write_table(table, path)


# One malformed-row kind per reject reason of the CSV source; each turns a
# valid row into one the scan must reject.
_MALFORMS = [
    lambda r: {**r, "transaction_id": ""},
    lambda r: {**r, "transaction_id": "  "},
    lambda r: {**r, "transaction_date": ""},
    lambda r: {**r, "transaction_date": r["transaction_date"][:5] + "02-31"},
    lambda r: {**r, "amount": ""},
    lambda r: {**r, "amount": "12.3.4"},
    lambda r: {**r, "state": ""},
    lambda r: {**r, "tax_paid": "n/a"},
]
_CATEGORIES = [
    "general", "clothing", "grocery", " Food ", "groceries", "rx",
    "prescription", "saas", "electronics", "furniture", "", "widgets",
]


def _csv_row(rng: np.random.Generator, i: int, states: list[str],
             cities: dict[str, list[str]], day: int) -> dict[str, str]:
    st = states[int(rng.integers(0, len(states)))]
    roll = rng.random()
    if roll < 0.03:
        st = "ZZ"  # unknown state: warning, not a reject
    elif roll < 0.10:
        st = st.lower()  # normalized to upper case by the source
    local = cities.get(st.upper(), [])
    croll = rng.random()
    if croll < 0.15 or not local:
        city = ""  # NULL city: average-local fallback
    elif croll < 0.25:
        city = "Faketown"
    else:
        city = local[int(rng.integers(0, len(local)))]
    amount = int(rng.integers(100, 500_000)) / 100
    paid_rate = [0, 0.05, 0.0725, 0.08, 0.1][int(rng.integers(0, 5))]
    return {
        "transaction_id": f"T{i:07d}",
        "transaction_date": (_EPOCH + dt.timedelta(days=day)).isoformat(),
        "amount": f"{amount:.2f}",
        "state": st,
        "city": city,
        "item_category": _CATEGORIES[int(rng.integers(0, len(_CATEGORIES)))],
        "tax_paid": f"{amount * paid_rate:.2f}",
    }


_CSV_FIELDS = ["transaction_id", "transaction_date", "amount", "state",
               "city", "item_category", "tax_paid"]


def _transactions_csv(rng: np.random.Generator, path: Path,
                      states: list[str], cities: dict[str, list[str]]) -> int:
    lo = (dt.date(2019, 1, 1) - _EPOCH).days
    hi = (dt.date(2025, 6, 30) - _EPOCH).days
    n_bad = int(CSV_ROWS * CSV_MALFORMED_SHARE)
    bad = set(rng.choice(CSV_ROWS, n_bad, replace=False).tolist())
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=_CSV_FIELDS)
        w.writeheader()
        for i in range(CSV_ROWS):
            row = _csv_row(rng, i, states, cities, int(rng.integers(lo, hi + 1)))
            if i in bad:
                row = _MALFORMS[i % len(_MALFORMS)](row)
            w.writerow(row)
    return n_bad


def _stream_backlog(rng: np.random.Generator, out: Path,
                    states: list[str], cities: dict[str, list[str]]) -> None:
    """Transaction parquet files in the engine's TXN_SCHEMA layout.  State
    weights are skewed so a few states cross their nexus thresholds."""
    weights = rng.pareto(1.2, len(states)) + 0.05
    weights /= weights.sum()
    lo = (dt.date(2023, 1, 1) - _EPOCH).days
    for f in range(STREAM_FILES):
        n = STREAM_ROWS_PER_FILE
        st = [states[j] for j in rng.choice(len(states), n, p=weights)]
        city = [
            local[int(rng.integers(0, len(local)))]
            if (local := cities.get(s)) and rng.random() < 0.7
            else None
            for s in st
        ]
        amount = rng.integers(1_000, 5_000_000, n)
        table = pa.table(
            {
                # numeric strings: the value sketch hashes ids as integers
                "transaction_id": pa.array(
                    [str(f * 100_000 + k) for k in range(n)]
                ),
                "transaction_date": pa.array(
                    (lo + rng.integers(0, 730, n)).astype("datetime64[D]")
                ),
                "amount": pa.array(
                    [Decimal(v).scaleb(-2) for v in amount.tolist()],
                    pa.decimal128(18, 2),
                ),
                "state": pa.array(st),
                "city": pa.array(city, pa.string()),
                "item_category": pa.array(
                    rng.choice(["general", "clothing", "grocery", "saas"], n)
                ),
                "tax_paid": pa.array([None] * n, pa.decimal128(18, 2)),
                "exemption_certificate": pa.array([None] * n, pa.string()),
                "customer_type": pa.array(["retail"] * n),
                "pricing_model": pa.array(["exclusive"] * n),
            }
        )
        pq.write_table(table, out / f"part-{f:04d}.parquet")


def generate(seed: int, root: Path) -> Inputs:
    """Write every input for ``seed`` under ``root`` (replacing old ones)."""
    states, cities = _states()
    data_dir = root / "data"
    stream_dir = root / "stream_src"
    for d in (data_dir, stream_dir):
        d.mkdir(parents=True, exist_ok=True)
        for p in d.iterdir():
            p.unlink()
    _orders(np.random.default_rng([seed, 1]), data_dir / "orders.parquet")
    _documents(np.random.default_rng([seed, 2]), data_dir / "documents.parquet")
    _embeddings(np.random.default_rng([seed, 3]), data_dir / "embeddings.parquet")
    csv_path = root / "transactions.csv"
    n_bad = _transactions_csv(
        np.random.default_rng([seed, 4]), csv_path, states, cities
    )
    _stream_backlog(np.random.default_rng([seed, 5]), stream_dir, states, cities)
    return Inputs(
        data_dir=data_dir,
        csv_path=csv_path,
        csv_rows=CSV_ROWS,
        csv_malformed=n_bad,
        stream_dir=stream_dir,
    )
