"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is made here from one integer
seed, so the same seed gives byte-identical inputs:

- :func:`write_tables` writes the star-schema tables the registry queries
  read (one parquet file and one row group per table, the layout of the
  project's test data).
- :func:`permute_tables` writes a seeded row permutation of some tables into
  a fresh directory: same multiset of rows, so query results are unchanged,
  but a new dataset path, so every per-dataset cache starts cold.
- :class:`EnvelopeTraffic` produces Pub/Sub push messages for the streaming
  ingest workload, with the traffic dimensions in :data:`TRAFFIC` and the
  expected outcome of ingesting them.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
_P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "plate", "rod"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "es", "fr", "de", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(table: pa.Table, path: str) -> None:
    """One file, one row group: the layout every loader in the program sees
    in the project's test data."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema at scale factor ``sf`` (row counts as in the
    project's test data: 150k customers, 1.5M orders, 6M line items and 1M
    events per unit of sf; documents and embeddings have a floor of 500)."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_part = max(100, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_ev = max(500, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators'
            # positive cases
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def permute_tables(src_dir: str, out_dir: str, seed: int, tables=TABLES) -> str:
    """Copy ``tables`` from ``src_dir`` to ``out_dir`` in a seeded row order.
    Each output is still one file with one row group."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in tables:
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        order = rng.permutation(table.num_rows)
        _write(table.take(pa.array(order)), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --- envelope traffic ---------------------------------------------------------

# The seeded traffic dimensions of the ingest workload. Shares are of all
# messages sent; the duplicate shares split retries into those that land in
# the same spool file as their original and those sent several files later.
TRAFFIC = {
    "rate_per_s": 60,
    "file_interval_s": 0.1,
    "retry_dup_share_same_file": 0.04,
    "retry_dup_share_later_file": 0.04,
    "later_file_lag": [20, 40],
    "malformed_share": 0.04,
    "malformed_kinds": ["bad_json", "missing_tenant", "bad_timestamp", "no_key"],
    "phone_mix": {"us": 0.6, "international": 0.25, "invalid": 0.15},
    "tenants": 8,
    "tenant_zipf_s": 1.2,
    "event_day_spread": 5,
}

_US_FORMATS = ("({a}) {b}-{c}", "{a}-{b}-{c}", "{a}.{b}.{c}", "1-{a}-{b}-{c}", "+1 {a} {b} {c}")
_INVALID = ("not-a-phone", "12", "555-01", "+0 12", "call me")


@dataclass
class Expected:
    """What ingesting every message sent so far must produce."""

    keys: set = field(default_factory=set)  # distinct valid idempotency keys
    phones: dict = field(default_factory=dict)  # key -> {field: raw phone}
    malformed: int = 0
    sent: int = 0
    duplicates: int = 0


class EnvelopeTraffic:
    """Deterministic Pub/Sub push traffic. Each :meth:`next_file` call
    returns the messages of one spool file; ``expected`` accumulates the
    outcome the ingest chain must produce for everything returned so far."""

    def __init__(self, seed: int, traffic: dict = TRAFFIC):
        self.t = traffic
        self.rng = np.random.default_rng(seed)
        self.seed = seed
        self.expected = Expected()
        self._n = 0
        self._history: list[list[dict]] = []  # valid messages per file
        w = 1.0 / np.arange(1, traffic["tenants"] + 1) ** traffic["tenant_zipf_s"]
        self._tenant_p = w / w.sum()

    def _phone(self) -> str:
        mix = self.t["phone_mix"]
        u = self.rng.random()
        if u < mix["us"]:
            fmt = _US_FORMATS[int(self.rng.integers(0, len(_US_FORMATS)))]
            return fmt.format(a=int(self.rng.integers(201, 990)), b=int(self.rng.integers(100, 1000)),
                              c=f"{int(self.rng.integers(0, 10000)):04d}")
        if u < mix["us"] + mix["international"]:
            cc = int(self.rng.choice([44, 49, 33, 81, 61]))
            return f"+{cc} {int(self.rng.integers(10, 99))} {int(self.rng.integers(1000, 9999))} {int(self.rng.integers(1000, 9999))}"
        return _INVALID[int(self.rng.integers(0, len(_INVALID)))]

    def _valid(self) -> tuple[dict, str, dict]:
        i = self._n
        self._n += 1
        day = int(self.rng.integers(0, self.t["event_day_spread"]))
        sec = int(self.rng.integers(0, 86_400))
        occurred = (dt.datetime(2024, 3, 1) + dt.timedelta(days=day, seconds=sec)).strftime("%Y-%m-%dT%H:%M:%S.000Z")
        tenant = f"org-{int(self.rng.choice(len(self._tenant_p), p=self._tenant_p))}"
        key = f"k{self.seed}-{i}"
        if self.rng.random() < 0.5:
            phones = {"caller": self._phone(), "callee": self._phone()}
            payload = {"call_id": key, **phones, "duration": int(self.rng.integers(1, 900)), "status": "completed"}
            etype = "call.metadata"
        else:
            phones = {"from_phone": self._phone(), "to_phone": self._phone()}
            payload = {"message_id": key, **phones, "channel": "sms", "text_length": int(self.rng.integers(1, 400))}
            etype = "chat.message"
        env = {
            "envelope_version": "1", "event_type": etype, "schema_version": "1",
            "tenant_id": tenant, "occurred_at": occurred, "trace_id": f"t-{key}",
            "source": "bench", "payload": payload,
        }
        return env, key, phones

    def _malformed(self) -> str | dict:
        kind = self.t["malformed_kinds"][int(self.rng.integers(0, len(self.t["malformed_kinds"])))]
        i = self._n
        self._n += 1
        base = {"envelope_version": "1", "event_type": "call.metadata", "schema_version": "1",
                "tenant_id": "org-0", "occurred_at": "2024-03-01T00:00:00.000Z",
                "payload": {"call_id": f"bad{self.seed}-{i}"}}
        if kind == "bad_json":
            return f"{{not json {i}"
        if kind == "missing_tenant":
            del base["tenant_id"]
        elif kind == "bad_timestamp":
            base["occurred_at"] = "not-a-date"
        else:  # no_key: no call_id, no message_id, no trace_id
            base["payload"] = {"other": i}
        return base

    @staticmethod
    def _message(env, message_id: str) -> dict:
        data = env if isinstance(env, str) else json.dumps(env)
        return {"data": base64.b64encode(data.encode()).decode(), "attributes": {"origin": "bench"},
                "message_id": message_id, "ordering_key": None}

    def next_file(self, n_messages: int) -> list[dict]:
        """Messages of one spool file: fresh valid envelopes, malformed
        ones, and retries of earlier valid messages."""
        t, out, fresh = self.t, [], []
        lo, hi = t["later_file_lag"]
        for _ in range(n_messages):
            u = self.rng.random()
            if u < t["malformed_share"]:
                out.append(self._message(self._malformed(), f"m{self.seed}-{self._n}"))
                self.expected.malformed += 1
            elif u < t["malformed_share"] + t["retry_dup_share_same_file"] and fresh:
                out.append(dict(fresh[int(self.rng.integers(0, len(fresh)))]))
                self.expected.duplicates += 1
            elif (u < t["malformed_share"] + t["retry_dup_share_same_file"] + t["retry_dup_share_later_file"]
                  and len(self._history) > lo):
                back = self._history[-int(self.rng.integers(lo, min(hi, len(self._history)) + 1))]
                if back:
                    out.append(dict(back[int(self.rng.integers(0, len(back)))]))
                    self.expected.duplicates += 1
                    continue
                out.append(self._fresh(fresh))
            else:
                out.append(self._fresh(fresh))
        self._history.append(fresh)
        self.expected.sent += len(out)
        return out

    def _fresh(self, fresh: list) -> dict:
        env, key, phones = self._valid()
        msg = self._message(env, f"m{self.seed}-{key}")
        fresh.append(msg)
        self.expected.keys.add(key)
        self.expected.phones[key] = phones
        return msg
