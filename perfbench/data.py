"""Seeded input generators for the benchmark.

Two kinds of input:

- ``write_query_tables``: the ten parquet tables the registered queries
  read (TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), with the row counts of the scale-factor-0.01
  fixtures.  The query mixes use one fixed table seed
  (``QUERY_TABLE_SEED``) so the pinned result digests in ``digests.json``
  apply; the run seed only orders the queries.
- ``IngestGenerator``: rounds of ``events`` parquet files for the
  streaming workload, with Zipf-skewed users, timestamps spread over
  twelve months and a fixed share of events whose ``props`` lack ``$.k``
  (the reference's null-encrypt drop, O9).  It also returns, per round,
  the exact outputs the dual-sink stream must commit.

Every table is built from NumPy arrays drawn from one ``default_rng`` and
written with pyarrow, so one seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERY_TABLE_SEED = 20240101

WORDS = (
    "the a data spark query table row column key value join group agg sort "
    "scan filter window batch stream merge hash part order line customer "
    "vector big small fast slow"
).split()

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

#: event_type -> wire code of the reference's MessageType enum, written out
#: here so the ingest checker does not read it back from the program.
EVENT_TYPE_CODE = {"click": "T", "view": "P", "purchase": "V", "signup": "R", "error": "MC"}

_UTC = dt.timezone.utc
_TS_US = pa.timestamp("us")
_TS_US_UTC = pa.timestamp("us", tz="UTC")


def _write(path: str, columns: dict[str, pa.Array]) -> None:
    """Write atomically: the stream only lists ``*.parquet`` names."""
    tmp = path + ".tmp"
    pq.write_table(pa.table(columns), tmp, compression="snappy")
    os.replace(tmp, path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _micros(start: dt.datetime, offsets_s: np.ndarray) -> np.ndarray:
    base = int(start.replace(tzinfo=_UTC).timestamp()) * 1_000_000
    return base + (offsets_s * 1_000_000).astype(np.int64)


def _event_props(k: np.ndarray, has_k: np.ndarray) -> list[str]:
    return [f'{{"k": {v}}}' if ok else f'{{"x": {v}}}' for v, ok in zip(k.tolist(), has_k.tolist())]


#: Row counts of the query tables: those of the scale-factor-0.01 fixtures
#: (TPC-H star schema; events over 30 days; documents; embeddings).  At
#: scale factor 0.1 one timed curation run takes about 85 s on four cores,
#: against 50-85 s at this size, too long for ten-run comparisons.
QUERY_ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
              "lineitem": 60_000, "events": 10_000, "users": 150, "documents": 500,
              "embeddings": 500}


def write_query_tables(out_dir: str, seed: int = QUERY_TABLE_SEED) -> None:
    """The ten tables of the query mixes, with ``QUERY_ROWS`` rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def table(name: str, columns: dict[str, pa.Array]) -> None:
        _write(os.path.join(out_dir, f"{name}.parquet"), columns)

    table("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    table("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    n_cust, n_supp, n_part, n_ord, n_li = (
        QUERY_ROWS[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    table("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust).tolist()),
    })
    table("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adjectives = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "valve", "spring", "pipe"]
    table("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) * 0.1, 2)),
    })
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    day0 = dt.datetime(1995, 1, 1)
    table("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_micros(day0, order_days * 86400), type=_TS_US),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist()),
    })
    li_order = rng.integers(0, n_ord, n_li)
    li_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    table("lineitem", {
        "l_orderkey": pa.array(li_order.astype(np.int64)),
        "l_partkey": pa.array(li_part.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * (900.0 + li_part * 0.1) * rng.uniform(1.0, 2.33, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist()),
        "l_shipdate": pa.array(_micros(day0, (order_days[li_order] + rng.integers(1, 122, n_li)) * 86400),
                               type=_TS_US),
    })

    n_ev, n_users = QUERY_ROWS["events"], QUERY_ROWS["users"]
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    k = rng.integers(0, 100, n_ev)
    table("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(_micros(dt.datetime(2024, 1, 1), np.cumsum(gaps)), type=_TS_US),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
        "props": pa.array(_event_props(k, np.ones(n_ev, dtype=bool))),
    })

    n_docs = QUERY_ROWS["documents"]
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # near-duplicate
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    table("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "fr", "es", "zh", "de"], n_docs,
                                    p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    n_vec, dim = QUERY_ROWS["embeddings"], 64
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table("embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


class IngestGenerator:
    """Rounds of the streaming workload's input for one seed.

    Round ``r`` holds ``msgs_per_round`` events split over ``files_per_round``
    files, with globally unique ``event_id``s.
    """

    N_USERS = 2000
    ZIPF_A = 1.3
    NO_K_SHARE = 0.05
    YEAR_START = dt.datetime(2024, 1, 1)
    YEAR_SECONDS = 366 * 86400

    def __init__(self, seed: int, msgs_per_round: int, files_per_round: int):
        self.seed = seed
        self.msgs_per_round = msgs_per_round
        self.files_per_round = files_per_round

    def round_columns(self, r: int) -> dict[str, np.ndarray]:
        """The raw columns of round ``r``; a pure function of (seed, r)."""
        rng = np.random.default_rng([self.seed, r])
        n = self.msgs_per_round
        users = (rng.zipf(self.ZIPF_A, n) - 1) % self.N_USERS
        offs = np.sort(rng.uniform(0, self.YEAR_SECONDS, n))
        return {
            "event_id": np.arange(r * n, (r + 1) * n, dtype=np.int64),
            "ts_us": _micros(self.YEAR_START, offs),
            "user_id": users.astype(np.int64),
            "event_type": rng.integers(0, len(EVENT_TYPES), n),
            "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
            "k": rng.integers(0, 100, n),
            "has_k": rng.random(n) >= self.NO_K_SHARE,
        }

    def write_round(self, r: int, input_dir: str) -> None:
        cols = self.round_columns(r)
        bounds = np.linspace(0, self.msgs_per_round, self.files_per_round + 1).astype(int)
        types = np.array(EVENT_TYPES)[cols["event_type"]]
        props = np.array(_event_props(cols["k"], cols["has_k"]))
        for f in range(self.files_per_round):
            s = slice(bounds[f], bounds[f + 1])
            _write(os.path.join(input_dir, f"round{r:05d}-part{f:02d}.parquet"), {
                "event_id": pa.array(cols["event_id"][s]),
                "ts": pa.array(cols["ts_us"][s], type=_TS_US_UTC),
                "user_id": pa.array(cols["user_id"][s]),
                "event_type": pa.array(types[s].tolist()),
                "value": pa.array(cols["value"][s]),
                "props": pa.array(props[s].tolist()),
            })

    def expected_round(self, r: int) -> "RoundExpectation":
        """What the dual sink must commit for round ``r``."""
        c = self.round_columns(r)
        months = (np.datetime64("1970-01-01T00:00:00", "us")
                  + c["ts_us"].astype("timedelta64[us]")).astype("datetime64[M]").astype(str)
        keep = c["has_k"]
        summary = {
            (f"user{u}", f"peer{k}@chat.local" if ok else None, m.replace("-", "") + "M")
            for u, k, ok, m in zip(c["user_id"].tolist(), c["k"].tolist(), keep.tolist(), months.tolist())
        }
        stanza = {}
        for i in np.flatnonzero(keep).tolist():
            et = EVENT_TYPES[c["event_type"][i]]
            stanza[str(c["event_id"][i])] = (
                f'<message type="{EVENT_TYPE_CODE[et]}"><body>{et}:{c["k"][i]}</body></message>'
            )
        return RoundExpectation(len(c["event_id"]), stanza, summary)


class RoundExpectation:
    """Exact sink contents for one round: ``stanza`` maps every detail
    ``message_id`` to its plaintext stanza (rows lacking ``$.k`` are absent,
    the O9 drop); ``summary`` is the round's distinct
    ``(username, jid, date_partition)`` set."""

    def __init__(self, generated: int, stanza: dict[str, str], summary: set[tuple]):
        self.generated = generated
        self.stanza = stanza
        self.summary = summary
