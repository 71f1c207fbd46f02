"""Seeded input generators for the benchmark.

Everything the program reads in a benchmark run comes from here:

- :class:`CdcGenerator` writes Debezium-wrapped ``users`` change events
  as JSON lines ``{"msg_id", "key", "value"}`` — the (msg_id, key,
  value) contract that ``streaming.cdc_stream.translate_stream``
  consumes.  It follows the reference ingestor's branch mix: about
  1/7 double-encoded envelopes, about 1/13 corrupt payloads, ops
  c/u/u/d plus a few wrong-case and unknown ops, c/u without ``after``,
  and deletes keyed both by ``before.id`` and by the Kafka key.  Keys
  are Zipf-distributed over a fixed id space.  Next to every message it
  keeps the row the reference translation must produce (or ``None`` for
  a dropped message), so outputs are checked against an independent
  Python reference and not against the program itself.
- :func:`write_tables` writes a small TPC-H-shaped star schema plus
  ``events`` and ``documents`` in the column layout of the program's
  fixture tables (``tables.TABLES``), for the query mix.

The same seed gives the same bytes.  Files are written under a temp
name and renamed, so a streaming file source never sees a partial file.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

#: Epoch micros stamped on backlog messages (2025-10-09 UTC).
BACKLOG_TS0_US = 1_760_000_000_000_000
#: LSN of message 0; message i carries LSN ``LSN0 + i``.
LSN0 = 1000

#: Shape of the source files: one JSON object per line.
SOURCE_SCHEMA = "msg_id long, key string, value string"

_CORRUPT = ('{"before": {"id":', "not json at all", "[1, 2, 3]", '"just a string"', "42")
_USER = '{"id":%d,"name":"%s","email":"%s"}'
_ENV = (
    '{"before":%s,"after":%s,"source":{"lsn":%d,"ts_us":%d,'
    '"schema":"app","table":"users"},"op":"%s","ts_us":%d}'
)


def ts_string(ts_us: int) -> str:
    """The sink's wire format for a timestamp: UTC, second precision
    (``streaming.sinks.clickhouse_shape``)."""
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ts_us // 1_000_000))


def write_atomic(path: str, text: str) -> None:
    """Write ``text`` to ``path`` through a hidden temp name and a
    rename; Spark's file source skips names starting with ``.``."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.rename(tmp, path)


class CdcGenerator:
    """Seeded Debezium message source with a Python reference translation.

    ``messages`` returns JSON lines plus, per message, the expected
    ``users_cur`` row ``(msg_id, id, name, email, is_deleted, _op,
    _lsn, ts_us)`` or ``None`` when the reference drops the message.
    Branch and key counts accumulate in ``counts`` and ``key_hits``.
    """

    P_CORRUPT = 1 / 13
    P_DOUBLE = 1 / 7
    #: op shares: c, u, d, wrong-case (C/U/D), unknown (r)
    OP_SHARES = (0.24, 0.48, 0.24, 0.03, 0.01)
    P_AFTER_MISSING = 0.01

    def __init__(self, seed: int, n_ids: int = 200_000, zipf_s: float = 0.99):
        self.rng = np.random.default_rng(seed)
        self.n_ids = n_ids
        self.zipf_s = zipf_s
        weights = 1.0 / np.arange(1, n_ids + 1, dtype=np.float64) ** zipf_s
        self._cdf = np.cumsum(weights / weights.sum())
        # rank -> id, so hot ids are spread over the id space
        self._id_of_rank = self.rng.permutation(n_ids) + 1
        self.counts = {
            "messages": 0, "corrupt": 0, "double_encoded": 0, "create": 0,
            "update": 0, "delete_by_before": 0, "delete_by_key": 0,
            "wrong_case_op": 0, "unknown_op": 0, "after_missing": 0, "kept": 0,
        }
        self.key_hits = np.zeros(n_ids + 1, dtype=np.int64)

    def draw_ids(self, n: int) -> np.ndarray:
        ranks = np.searchsorted(self._cdf, self.rng.random(n), side="right")
        return self._id_of_rank[np.minimum(ranks, self.n_ids - 1)]

    def messages(self, first_msg_id: int, ts_us: np.ndarray) -> tuple[list[str], list]:
        """One message per entry of ``ts_us`` (its creation time)."""
        n = len(ts_us)
        rng = self.rng
        ids = self.draw_ids(n)
        corrupt = rng.random(n) < self.P_CORRUPT
        double = rng.random(n) < self.P_DOUBLE
        op_idx = rng.choice(len(self.OP_SHARES), size=n, p=self.OP_SHARES)
        sub = rng.random(n)
        corrupt_form = rng.integers(0, len(_CORRUPT), n)
        np.add.at(self.key_hits, ids, 1)
        c = self.counts
        lines, expected = [], []
        for i in range(n):
            mid = first_msg_id + i
            uid = int(ids[i])
            ts = int(ts_us[i])
            lsn = LSN0 + mid
            key = '{"id":%d}' % uid
            c["messages"] += 1
            if corrupt[i]:
                c["corrupt"] += 1
                value = _CORRUPT[corrupt_form[i]]
                exp = None
            else:
                k = op_idx[i]
                name, email = f"user{uid}-{mid}", f"u{uid}.{mid}@example.com"
                user = _USER % (uid, name, email)
                exp = None
                if k == 0 or k == 1:
                    op = "c" if k == 0 else "u"
                    if sub[i] < self.P_AFTER_MISSING:
                        c["after_missing"] += 1
                        after = "null"
                    else:
                        c["create" if k == 0 else "update"] += 1
                        after = user
                        exp = (mid, uid, name, email, 0, 1 if k == 0 else 2, lsn, ts)
                    env = _ENV % ("null", after, lsn, ts, op, ts)
                elif k == 2:
                    if sub[i] < 0.5:
                        c["delete_by_before"] += 1
                        before = user
                    else:
                        # id comes from the Kafka key: before is absent or
                        # carries Go's zero id
                        c["delete_by_key"] += 1
                        before = "null" if sub[i] < 0.8 else _USER % (0, name, email)
                    env = _ENV % (before, "null", lsn, ts, "d", ts)
                    exp = (mid, uid, "", "", 1, 3, lsn, ts)
                elif k == 3:
                    c["wrong_case_op"] += 1
                    env = _ENV % ("null", user, lsn, ts, "CUD"[int(sub[i] * 3)], ts)
                else:
                    c["unknown_op"] += 1
                    env = _ENV % ("null", user, lsn, ts, "r", ts)
                if double[i]:
                    c["double_encoded"] += 1
                    value = json.dumps(env)
                else:
                    value = env
            if exp is not None:
                c["kept"] += 1
            lines.append('{"msg_id":%d,"key":%s,"value":%s}' % (mid, json.dumps(key), json.dumps(value)))
            expected.append(exp)
        return lines, expected

    def write_backlog(self, out_dir: str, n_messages: int, n_files: int) -> list:
        """Land ``n_messages`` backlog messages as ``n_files`` JSONL
        files; returns the expected rows (None for dropped messages)."""
        os.makedirs(out_dir, exist_ok=True)
        ts = BACKLOG_TS0_US + np.arange(n_messages, dtype=np.int64) * 1000
        lines, expected = self.messages(0, ts)
        per = -(-n_messages // n_files)
        for f in range(n_files):
            chunk = lines[f * per:(f + 1) * per]
            if chunk:
                write_atomic(os.path.join(out_dir, f"part-{f:05d}.json"), "\n".join(chunk) + "\n")
        return expected

    def stats(self) -> dict:
        """Realized branch shares and key skew of everything generated."""
        c = self.counts
        n = max(c["messages"], 1)
        hits = np.sort(self.key_hits[1:])[::-1]
        top1pct = max(1, self.n_ids // 100)
        return {
            "messages": c["messages"],
            "shares": {k: round(v / n, 4) for k, v in c.items() if k != "messages"},
            "zipf_s": self.zipf_s,
            "id_space": self.n_ids,
            "distinct_ids": int((hits > 0).sum()),
            "top_id_share": round(float(hits[0]) / n, 4),
            "top1pct_ids_share": round(float(hits[:top1pct].sum()) / n, 4),
        }


# ------------------------------------------------------------ query mix
_WORDS = (
    "a the data row column table key value part order line query scan join "
    "agg group sort hash merge batch stream window spark fast slow big small "
    "customer index filter"
).split()
_P_NAMES = [f"{c} {t}" for c in ("red", "blue", "green", "small", "large", "shiny", "dull", "old")
            for t in ("widget", "ring", "bolt", "gear", "plate", "valve", "spring", "cable")]


def _ts_us_array(rng, start: str, days: int, n: int, whole_days: bool) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    if whole_days:
        return base + rng.integers(0, days, n) * 86_400_000_000
    return base + rng.integers(0, days * 86_400_000_000, n)


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write the fixture-shaped tables the query mix reads; returns row
    counts.  ``scale`` follows the fixture convention (lineitem has
    about ``6e6 * scale`` rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), max(int(10_000 * scale), 10), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_users, n_ev, n_docs = max(int(15_000 * scale), 50), int(1_000_000 * scale), int(50_000 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ts_col(us):
        return pa.array(us, pa.timestamp("us"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    t = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": rng.choice(_P_NAMES, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": ts_col(_ts_us_array(rng, "1995-01-01", 2400, n_ord, True)),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": np.sort(rng.integers(0, n_ord, n_li)),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + rng.integers(0, 1200, n_li) * 1.7), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ts_col(_ts_us_array(rng, "1995-01-02", 2500, n_li, True)),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_col(_ts_us_array(rng, "2024-01-01", 30, n_ev, False)),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev,
                                 p=[0.4, 0.3, 0.1, 0.1, 0.1]),
        "value": money(0.01, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.1:  # exact and whitespace/case-variant duplicates
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append(src.upper() if rng.random() < 0.5 else "  " + src.replace(" ", "  "))
            continue
        words = rng.choice(_WORDS, int(rng.integers(8, 90)))
        texts.append(" ".join(words) + (". " if rng.random() < 0.5 else "!"))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    for name, tab in t.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in t.items()}
