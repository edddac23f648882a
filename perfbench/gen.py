"""Seeded inputs for the benchmark: the Avro weather stream and the batch tables.

Everything here is a pure function of the seed (and the plan), so two runs
with one seed feed the engine identical bytes.
"""

from __future__ import annotations

import io
import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sparkksqldbbenchmark_spark.schemas import WEATHER_DATA_AVRO
from sparkksqldbbenchmark_spark.sources.avro_codec import encode_record

TOPICS = ("wind_speed", "sunshine")
# Upper bound of each topic's value, in hundredths (the values carry 2 dp,
# so the engine's round(min/max, 2) is exact and the avg is checkable).
VALUE_CENTS = {"wind_speed": 3000, "sunshine": 10000}
SCHEMA_ID = 1
_WEATHER_AVRO = json.loads(WEATHER_DATA_AVRO)


@dataclass(frozen=True)
class WeatherPlan:
    """Phase-locked open-loop schedule of the Avro weather stream.

    Window m covers [start + m*trigger_s, start + (m+1)*trigger_s). Its events
    are due evenly over the first ``trigger_s - quiet_s`` seconds, in
    ``files_per_window`` files per topic; the last file lands ``quiet_s``
    before the trigger that reads it, so every micro-batch gets exactly one
    window.
    """

    trigger_s: int = 3
    quiet_s: float = 0.5
    files_per_window: int = 5
    # The reference experiment's producer rate (BASELINE.md): 100 msg/s per
    # topic, so 250 events per topic in each window.
    rate_per_topic: int = 100  # events/s per topic while a window is open
    stations: int = 10

    @property
    def events_per_window(self) -> int:
        return round(self.rate_per_topic * (self.trigger_s - self.quiet_s))

    @property
    def file_span_s(self) -> float:
        return (self.trigger_s - self.quiet_s) / self.files_per_window

    def event_offset_s(self, i: int) -> float:
        """Due time of a window's i-th event, relative to the window start."""
        return i / self.rate_per_topic

    def station_of(self, i: int) -> int:
        return i % self.stations + 1

    def newest_event_offset_s(self, station_id: int, message_count: int) -> float:
        """Due time of the newest event a (metric, station) window row holds,
        from the round-robin station order and the row's message_count."""
        i = (station_id - 1) + self.stations * (message_count - 1)
        return self.event_offset_s(i)

    def file_due_offset_s(self, j: int) -> float:
        """File j (0-based) is written once its last event is due."""
        return (j + 1) * self.file_span_s


def window_values(seed: int, window: int, topic: str, n: int) -> np.ndarray:
    rng = np.random.default_rng([seed, window, TOPICS.index(topic)])
    return rng.integers(0, VALUE_CENTS[topic] + 1, size=n)


def expected_rows(plan: WeatherPlan, seed: int, window: int) -> dict:
    """(metric, stationId) -> (count, min, max, avg) the engine must emit for
    one window, with avg computed as the engine's exact decimal sum / count."""
    out = {}
    n = plan.events_per_window
    for topic in TOPICS:
        cents = window_values(seed, window, topic, n)
        for s in range(1, plan.stations + 1):
            c = cents[s - 1 :: plan.stations]
            total = Decimal(int(c.sum())) / 100
            out[(topic, s)] = (
                len(c),
                int(c.min()) / 100,
                int(c.max()) / 100,
                float(total) / len(c),
            )
    return out


def encode_weather(record: dict) -> bytes:
    """Confluent-framed Avro body of one schemas.WEATHER_DATA record."""
    return b"\x00" + SCHEMA_ID.to_bytes(4, "big") + encode_record(_WEATHER_AVRO, record)


def window_files(
    plan: WeatherPlan, seed: int, window: int, start_s: float
) -> list[tuple[float, str, bytes]]:
    """Serialized parquet files of one window, as (due_offset_s, topic, bytes);
    each file holds one binary ``value`` column like a Kafka record value."""
    n = plan.events_per_window
    per_file = n // plan.files_per_window
    out = []
    for topic in TOPICS:
        cents = window_values(seed, window, topic, n)
        payloads = []
        for i in range(n):
            due = start_s + plan.event_offset_s(i)
            ts_ms = round(due * 1000)
            station = plan.station_of(i)
            payloads.append(encode_weather({
                "timeObserved": datetime.fromtimestamp(
                    ts_ms / 1000, timezone.utc
                ).isoformat(),
                "stationId": station,
                "stationName": f"station-{station}",
                "metric": topic,
                "value": int(cents[i]) / 100,
                "producer_ts": ts_ms,
            }))
        for j in range(plan.files_per_window):
            chunk = payloads[j * per_file : (j + 1) * per_file]
            buf = io.BytesIO()
            pq.write_table(pa.table({"value": pa.array(chunk, pa.binary())}), buf)
            out.append((plan.file_due_offset_s(j), topic, buf.getvalue()))
    return out


def write_file_atomically(directory: str, name: str, data: bytes) -> None:
    """Write-then-rename; the leading dot hides the partial file from Spark's
    file source listing."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, os.path.join(directory, name))


# ------------------------------------------------------------ batch tables --

# The TESTDATA documents' vocabulary; near-duplicates end in "dup".
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DUP_SHARE = 0.05


def _ts_us(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def _days(start: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi + 1, size=n) / 100


def batch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The TESTDATA star schema's tables that the batch query set reads, with
    the same column types and value domains, at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 7])
    n_ev, n_cust = int(1_000_000 * sf), int(150_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    ev_secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us("2024-01-01", ev_secs),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": pa.array(
            np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ]
        ),
        "value": pa.array(np.minimum(
            np.round(rng.exponential(50.0, n_ev), 2), 560.21
        )),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -99999, 999999, n_cust)),
        "c_mktsegment": pa.array(
            np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                      "MACHINERY"])[rng.integers(0, 5, n_cust)]
        ),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_cents(rng, 100000, 50000000, n_ord)),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pa.array(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])[rng.integers(0, 5, n_ord)]
        ),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(rng, 90000, 10500000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_li)),
    })
    texts = [
        " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n_words)])
        for n_words in rng.integers(10, 101, n_doc)
    ]
    n_dup = int(n_doc * DUP_SHARE)
    for i, src in zip(rng.choice(n_doc, n_dup, replace=False),
                      rng.integers(0, n_doc, n_dup)):
        texts[i] = texts[src] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(
            np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n_doc)]
        ),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.1, (n_emb, 64))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "events": events, "customer": customer, "orders": orders,
        "lineitem": lineitem, "documents": documents, "embeddings": embeddings,
    }


def write_batch_tables(directory: str, seed: int, sf: float) -> dict[str, int]:
    """Write the batch tables as ``<name>.parquet``; return their row counts."""
    os.makedirs(directory, exist_ok=True)
    counts = {}
    for name, table in batch_tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
