"""Seeded input generator: the benchmark's only source of data.

Everything the program sees is written here from ``numpy`` draws on one
seed, so the same seed gives byte-identical inputs:

- the testdata tables (TPC-H-ish star schema, ``events``,
  ``documents``, ``embeddings``) as one Parquet file each, in the shape
  and value ranges of the repository's sf-scaled testdata;
- envelope landing files (JSON lines with the ``ENVELOPE_SCHEMA`` shape)
  whose payloads are ``events`` rows as JSON, with a fixed share of
  malformed payloads chosen by the seed.

Each generator also returns the facts the output checks need (good and
malformed counts, the value sum in cents), computed here rather than by
the program under test.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

#: Share of envelopes whose payload is malformed and must go to the DLQ.
MALFORMED_SHARE = 0.05

#: The events table spans 30 days of UTC hours, like the testdata.
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 24 * 3600 * 1_000_000

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_ADJ = np.array(["blue", "old", "small", "new", "red", "large", "hot", "cold"])
PART_NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
VOCAB = np.array(
    (
        "a agg batch big column customer data fast filter group hash join key "
        "line merge order part query row scan slow small sort spark stream "
        "table the value vector window"
    ).split()
)


def events_frame(
    rng: np.random.Generator, n: int, span_us: int = EVENTS_SPAN_US
) -> pd.DataFrame:
    """``events``: ids ordered by ``ts`` over ``span_us`` from
    ``EVENTS_START``, mildly skewed users (1500 per 100k events),
    exponential ``value`` with two decimals (mean 50)."""
    ts = EVENTS_START + np.sort(rng.integers(0, span_us, n)).astype(
        "timedelta64[us]"
    )
    n_users = max(10, n * 3 // 200)
    weights = rng.gamma(8.0, 1.0, n_users)
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.choice(n_users, n, p=weights / weights.sum()).astype(
                np.int64
            ),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _dates(rng: np.random.Generator, n: int, first: str, days: int) -> np.ndarray:
    return np.datetime64(first, "us") + (
        rng.integers(0, days, n) * 86_400_000_000
    ).astype("timedelta64[us]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents over a small vocabulary; about 10% are
    near-duplicates (two words replaced) and 0.5% exact copies of an
    earlier document, so the dedup entries have work to do."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.10:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = str(VOCAB[rng.integers(0, len(VOCAB))])
        else:
            words = list(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))])
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    """Unit-norm float32 vectors scattered around 10 labelled centres."""
    centres = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    vec = centres[label] + rng.normal(0.0, 1.5, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vec),
            "label": label.astype(np.int32),
        }
    )


#: Lines per order, as in the testdata (1..12, mode 3-4, mean 4).
_LINES_P = np.array(
    [11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407, 1959, 818, 292, 93],
    dtype=np.float64,
)
_LINES_P /= _LINES_P.sum()


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table at scale factor ``sf`` under ``out_dir``
    (``<name>.parquet``); return the row count of each."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    lines = rng.choice(np.arange(1, 13), n_ord, p=_LINES_P)
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_orderkey)
    l_linenumber = (
        np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    retail = np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2)
    l_partkey = rng.integers(0, n_part, n_li)
    extended = np.round(qty * retail[l_partkey] * rng.uniform(1.0, 2.1, n_li), 2)

    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": np.char.add(
                    np.char.add(PART_ADJ[rng.integers(0, 8, n_part)], " "),
                    PART_NOUN[rng.integers(0, 8, n_part)],
                ),
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": retail,
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                # customer 0 never orders (the anti-joins keep a row)
                "o_custkey": rng.integers(1, n_cust, n_ord),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
                "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2404),
                "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": l_orderkey,
                "l_partkey": l_partkey,
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": l_linenumber,
                "l_quantity": qty,
                "l_extendedprice": extended,
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _dates(rng, n_li, "1995-01-02", 2498),
            }
        ),
        "events": events_frame(rng, int(1_000_000 * sf)),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}


@dataclass(frozen=True)
class Landing:
    """What was landed, as the generator knows it (the checks' truth)."""

    envelopes: int
    good: int
    malformed: int
    value_cents: int  # sum(value) over good rows, in integer cents
    json_bytes: int


def _payload(row: tuple) -> str:
    event_id, ts, user_id, event_type, value, props = row
    return json.dumps(
        {
            "event_id": event_id,
            "ts": ts,
            "user_id": user_id,
            "event_type": event_type,
            "value": value,
            "props": props,
        },
        separators=(",", ":"),
    )


def land_envelopes(
    landing_dir: str, seed: int, n: int, n_files: int, first_hour: int, span_hours: int
) -> Landing:
    """Write ``n`` envelopes spanning ``span_hours`` UTC hours, starting
    ``first_hour`` hours after ``EVENTS_START``, as ``n_files``
    JSON-lines files in event order: file k holds the k-th contiguous
    slice of the stream, as a queue feed would land them. Malformed
    payloads are truncated JSON objects or non-JSON text; exactly
    ``round(n * MALFORMED_SHARE)`` of them, at positions chosen by the
    seed."""
    rng = np.random.default_rng([seed, 2, n, n_files, first_hour, span_hours])
    ev = events_frame(rng, n, span_hours * 3600 * 1_000_000)
    ev["ts"] += np.timedelta64(first_hour, "h")
    bad = np.zeros(n, dtype=bool)
    bad[rng.choice(n, int(round(n * MALFORMED_SHARE)), replace=False)] = True
    ts_text = pd.Series(ev["ts"]).dt.strftime("%Y-%m-%dT%H:%M:%S.%fZ").tolist()
    cols = zip(
        ev["event_id"].tolist(),
        ts_text,
        ev["user_id"].tolist(),
        ev["event_type"].tolist(),
        ev["value"].tolist(),
        ev["props"].tolist(),
    )
    sent_ms = (ev["ts"].astype("int64") // 1000).tolist()
    lines = []
    for i, row in enumerate(cols):
        payload = _payload(row)
        if bad[i]:
            payload = payload[: len(payload) // 2] if i % 2 else f"<not json {i}>"
        attrs = {
            "MessageId": f"m-{seed}-{row[0]}",
            "ApproximateReceiveCount": "1",
            "SentTimestamp": str(sent_ms[i]),
        }
        lines.append(json.dumps({"value": payload, "attributes": attrs}))
    os.makedirs(landing_dir, exist_ok=True)
    size = 0
    for k, chunk in enumerate(np.array_split(np.arange(n), n_files)):
        path = os.path.join(landing_dir, f"part-{k:05d}.json")
        text = "\n".join(lines[i] for i in chunk) + "\n"
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)
        size += len(text.encode("utf-8"))
    good = ~bad
    return Landing(
        envelopes=n,
        good=int(good.sum()),
        malformed=int(bad.sum()),
        value_cents=int(np.round(ev["value"].to_numpy()[good] * 100).sum()),
        json_bytes=size,
    )
