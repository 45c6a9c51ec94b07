"""Seeded input generators for the three workloads.

Every generator is a pure function of ``seed``: the same seed writes
byte-identical parquet files (arrays are built directly in Arrow, with
no pandas metadata and fixed writer settings).  The program under test
only ever sees these files and the ETL client defined here.
"""

from __future__ import annotations

import os
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- shared ---------------------------------------------------------------


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(columns: dict[str, pa.Array], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path, compression="snappy")


def _epoch_day(d: date) -> int:
    return (d - date(1970, 1, 1)).days


# --- etl_incremental: users + an editing MyFitnessPal client ----------------

ETL_USERS = 150
ETL_BACKFILL_FROM = date(2024, 1, 1)
ETL_BACKFILL_DAYS = 7
ETL_WINDOW_DAYS = 7  # the reference's 6-day lookback plus yesterday
#: Share (per mille) of already-stored days in a window that the client
#: returns edited ("late edits"), per increment.
ETL_EDIT_PERMILLE = 100
MEAL_NAMES = ("breakfast", "lunch", "dinner", "snacks")


def etl_backfill_to() -> date:
    return ETL_BACKFILL_FROM + timedelta(days=ETL_BACKFILL_DAYS - 1)


def etl_users(seed: int, path: str, n: int = ETL_USERS) -> list[int]:
    """Write the seeded user population (``user_id``) and return it."""
    ids = np.sort(_rng(seed, 1).choice(1_000_000, size=n, replace=False) + 1)
    _write({"user_id": pa.array(ids, pa.int64())}, path)
    return [int(u) for u in ids]


def edit_hash(seed: int, user_id: int, epoch_day: int, increment: int) -> int:
    """Closed-form edit draw in [0, 1000); ``oracles.etl_expected`` repeats it in SQL."""
    return (
        user_id * 2654435761 + epoch_day * 40503 + increment * 97 + (seed % 1_000_003) * 7
    ) % 1000


class EditingClient:
    """Deterministic MyFitnessPal stand-in for ``fetch_days(client=...)``.

    Every field is closed-form integer arithmetic on (seed, user, day),
    so a DuckDB query can recompute the whole warehouse.  During
    increment ``k`` (k >= 1) a day already stored before the increment
    (``day < first_new_day``) comes back edited when ``edit_hash`` falls
    under ``ETL_EDIT_PERMILLE``: water and cardio minutes change, as a
    user correcting yesterday's log would.  ``k == 0`` is the backfill.
    """

    def __init__(self, seed: int, increment: int, first_new_day: date):
        self.seed = seed
        self.s = seed % 1000
        self.increment = increment
        self.first_new_epoch = _epoch_day(first_new_day)

    def __call__(self, user_id: int, day: date) -> dict:
        e = _epoch_day(day)
        u, s, k = user_id, self.s, self.increment
        meals = []
        for i in range((u + e + s) % 4):
            meals.append(
                {
                    "name": MEAL_NAMES[i],
                    "calories": (u * 31 + e * 7 + i * 13 + s) % 900 + 100,
                    "entries": [
                        {"short_name": f"item{(u + j * 7 + s) % 50}", "quantity": (u + e + i + j) % 5 + 1}
                        for j in range((u + e + i) % 3 + 1)
                    ],
                }
            )
        water, cardio = (u + e) % 5, (u + e + s) % 60
        edited = (
            k >= 1
            and e < self.first_new_epoch
            and edit_hash(self.seed, u, e, k) < ETL_EDIT_PERMILLE
        )
        if edited:
            water += 1 + k % 3
            cardio += 10
        return {
            "user_id": u,
            "date": day,
            "meals": meals,
            "exercises": [
                {"name": "cardio", "minutes": cardio},
                {"name": "strength", "minutes": (u * 2 + e) % 45},
            ],
            "water": water,
        }


# --- report_mix: a small TPC-H-like star plus the request stream -------------

STAR_CUSTOMERS = 300
STAR_ORDERS = 4000
STAR_EVENTS = 3000
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STAR_FIRST_DAY = date(1995, 1, 1)
STAR_DAYS = 1300  # through mid-1998, like TPC-H order dates
REPORT_BLOCK = 5  # 4 point requests, then 1 range request
REPORT_ZIPF_S = 1.1
REPORT_RANGE_DAYS = 120


def _day_ts(days: np.ndarray, seconds: np.ndarray | None = None) -> pa.Array:
    base = datetime(STAR_FIRST_DAY.year, STAR_FIRST_DAY.month, STAR_FIRST_DAY.day)
    us = (days.astype(np.int64) * 86_400 + (0 if seconds is None else seconds)) * 1_000_000
    epoch_us = int((base - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(us + epoch_us, pa.timestamp("us"))


def _money(values: np.ndarray) -> pa.Array:
    return pa.array(np.round(values, 2), pa.float64())


def star_tables(seed: int, out_dir: str) -> list[int]:
    """Write customer/orders/lineitem/events parquet under ``out_dir``
    (the layout ``sources.load_table`` reads); return the customer keys."""
    r = _rng(seed, 2)
    nc, no = STAR_CUSTOMERS, STAR_ORDERS
    custkeys = np.arange(1, nc + 1, dtype=np.int64)
    _write(
        {
            "c_custkey": pa.array(custkeys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in custkeys]),
            "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(r.uniform(-999.99, 9999.99, nc)),
            "c_mktsegment": pa.array([SEGMENTS[i] for i in r.integers(0, len(SEGMENTS), nc)]),
        },
        f"{out_dir}/customer.parquet",
    )
    orderkeys = np.arange(1, no + 1, dtype=np.int64)
    o_days = r.integers(0, STAR_DAYS, no)
    lines = r.integers(1, 8, no)
    _write(
        {
            "o_orderkey": pa.array(orderkeys),
            "o_custkey": pa.array(r.integers(1, nc + 1, no), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[i] for i in r.integers(0, 3, no)]),
            "o_totalprice": _money(r.uniform(900.0, 400000.0, no)),
            "o_orderdate": _day_ts(o_days),
            "o_orderpriority": pa.array([f"{i}-PRIO" for i in r.integers(1, 6, no)]),
        },
        f"{out_dir}/orders.parquet",
    )
    nl = int(lines.sum())
    l_order = np.repeat(orderkeys, lines)
    qty = r.integers(1, 51, nl).astype(np.float64)
    _write(
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(r.integers(1, 20000, nl), pa.int64()),
            "l_suppkey": pa.array(r.integers(1, 1000, nl), pa.int64()),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, n + 1) for n in lines]), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": _money(qty * r.uniform(900.0, 2000.0, nl)),
            "l_discount": _money(r.integers(0, 11, nl) / 100.0),
            "l_tax": _money(r.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array([("A", "R", "N")[i] for i in r.integers(0, 3, nl)]),
            "l_linestatus": pa.array([("F", "O")[i] for i in r.integers(0, 2, nl)]),
            "l_shipdate": _day_ts(np.repeat(o_days, lines) + r.integers(1, 120, nl)),
        },
        f"{out_dir}/lineitem.parquet",
    )
    ne = STAR_EVENTS
    _write(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": _day_ts(r.integers(0, STAR_DAYS, ne), r.integers(0, 86_400, ne)),
            "user_id": pa.array(r.integers(1, nc + 1, ne), pa.int64()),
            "event_type": pa.array([("weigh_in", "log", "sync")[i] for i in r.integers(0, 3, ne)]),
            "value": _money(r.uniform(50.0, 120.0, ne)),
            "props": pa.array(["{}"] * ne),
        },
        f"{out_dir}/events.parquet",
    )
    return [int(k) for k in custkeys]


def report_requests(seed: int, custkeys: list[int], n: int) -> list[tuple]:
    """The request stream: 80% ``("point", custkey)`` with Zipf-skewed
    keys (a few users repeat often), 20% ``("range", from, to, segment)``
    over ``REPORT_RANGE_DAYS`` days.

    The stream has the same shape for every seed, so a short run sees
    the same mix whatever the seed: the last request of every block of
    ``REPORT_BLOCK`` is a range request, and the sequence of popularity
    ranks is fixed.  The seed picks which customer holds each rank, the
    range starts and the segments."""
    r = _rng(seed, 3)
    ranked = r.permutation(np.asarray(custkeys))
    weights = 1.0 / np.arange(1, len(ranked) + 1) ** REPORT_ZIPF_S
    ranks = _rng(0, 3).choice(len(ranked), size=n, p=weights / weights.sum())
    out: list[tuple] = []
    for i in range(n):
        if i % REPORT_BLOCK < REPORT_BLOCK - 1:
            out.append(("point", int(ranked[ranks[i]])))
        else:
            start = STAR_FIRST_DAY + timedelta(days=int(r.integers(0, STAR_DAYS - REPORT_RANGE_DAYS)))
            end = start + timedelta(days=REPORT_RANGE_DAYS)
            out.append(("range", start.isoformat(), end.isoformat(), SEGMENTS[int(r.integers(0, len(SEGMENTS)))]))
    return out


# --- corpus_dedup: replicated, perturbed documents ---------------------------

CORPUS_DOCS = 1500
CORPUS_VOCAB = 64
#: Planted near-duplicate groups have the same Zipf-like sizes for every
#: seed, ``min(60, round(300 / rank))``: five groups of 60 make a few LSH
#: bands hot, and most documents stand alone.  Only texts, substitution
#: positions and order are seeded, so the amount of work does not depend
#: on the seed.
CORPUS_GROUP_SCALE = 300
CORPUS_MAX_GROUP = 60
#: A replica differs from its base text in at most one word, so with
#: texts of at least 60 words every two replicas stay above the 0.8
#: Jaccard threshold; the last member of every group of three or more is
#: a near miss (``CORPUS_NEAR_MISS_SUBS`` substitutions) that LSH makes a
#: candidate and verification rejects.
CORPUS_MIN_WORDS, CORPUS_MAX_WORDS = 60, 90
CORPUS_NEAR_MISS_SUBS = 5
LANGS = ("en", "de", "es", "fr", "zh")


def corpus_group_sizes() -> list[int]:
    sizes: list[int] = []
    while sum(sizes) < CORPUS_DOCS:
        size = max(1, round(CORPUS_GROUP_SCALE / (len(sizes) + 1)))
        sizes.append(min(size, CORPUS_MAX_GROUP, CORPUS_DOCS - sum(sizes)))
    return sizes


def corpus(seed: int, path: str) -> int:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars)
    with ``CORPUS_DOCS`` rows; return the doc count.  Each base text is
    replicated into a group: alternately unchanged and with one word
    substituted, plus one near miss in groups of three or more."""
    r = _rng(seed, 4)
    words = [f"w{i:02d}" for i in range(CORPUS_VOCAB)]
    texts: list[str] = []
    for size in corpus_group_sizes():
        base = list(r.integers(0, CORPUS_VOCAB, int(r.integers(CORPUS_MIN_WORDS, CORPUS_MAX_WORDS))))
        for j in range(size):
            doc = list(base)
            subs = CORPUS_NEAR_MISS_SUBS if size >= 3 and j == size - 1 else j % 2
            for pos in r.choice(len(doc), subs, replace=False):
                doc[pos] = (doc[pos] + int(r.integers(1, CORPUS_VOCAB))) % CORPUS_VOCAB
            texts.append(" ".join(words[w] for w in doc))
    order = r.permutation(len(texts))
    texts = [texts[i] for i in order]
    n = len(texts)
    _write(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in r.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i}" for i in r.integers(0, 8, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        path,
    )
    return n


def main(argv=None) -> int:
    """Write every workload's inputs for one seed under ``--out``."""
    import argparse

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    etl_users(args.seed, os.path.join(args.out, "users.parquet"))
    star_tables(args.seed, os.path.join(args.out, "star"))
    corpus(args.seed, os.path.join(args.out, "corpus", "documents.parquet"))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
