"""Seeded input generation for the benchmark.

Every input is drawn from ``numpy.random.default_rng(seed)``, so the
same seed gives byte-identical tables.  The tables follow the schemas
of the engine's query testdata (TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``) at a scale factor ``sf``; row counts
are the TPC-H per-sf counts.  Nothing here touches Spark: the program
under test only ever sees the files written from these tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line column order small sort group query filter big window "
    "stream data join vector customer"
).split()
_ADJ = "small large hot cold blue old red new".split()
_NOUN = "ring bolt plate gear nut pipe wire lamp".split()


def _choice(rng: np.random.Generator, options: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Texts over a small vocabulary where about a third of the documents
    copy an earlier one with a few tokens replaced, so the near-duplicate
    queries find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.35:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                toks[int(rng.integers(0, len(toks)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            k = int(rng.integers(8, 100))
            toks = [_WORDS[j] for j in rng.integers(0, len(_WORDS), k)]
        texts.append(" ".join(toks))
    return texts


def lineitem_for_orders(
    rng: np.random.Generator,
    orderkeys: np.ndarray,
    orderdates: np.ndarray,
    n_part: int,
    n_supp: int,
) -> pa.Table:
    """1-7 lines per order, sorted by ``l_orderkey`` (so a key range of
    orders is a key range of lines)."""
    per = rng.integers(1, 8, len(orderkeys))
    okey = np.repeat(orderkeys, per)
    start = np.repeat(np.cumsum(per) - per, per)
    linenumber = (np.arange(len(okey)) - start + 1).astype(np.int32)
    n = len(okey)
    ship = np.repeat(orderdates, per) + rng.integers(1, 122, n) * np.timedelta64(1, "D")
    return pa.table(
        {
            "l_orderkey": okey.astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n),
            "l_linestatus": _choice(rng, ["O", "F"], n),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )


def orders_rows(
    rng: np.random.Generator, first_key: int, n: int, n_cust: int
) -> pa.Table:
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.table(
        {
            "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": _choice(rng, ["O", "F", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": pa.array(_EPOCH_1995 + days * np.timedelta64(1, "D")),
            "o_orderpriority": _choice(
                rng,
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n,
            ),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten query tables at scale factor ``sf`` (0.01 → 15k orders)."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_ev = max(500, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(200, int(50_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(
                rng,
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _choice(rng, names, n_part),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
        }
    )
    t["orders"] = orders_rows(rng, 0, n_ord, n_cust)
    t["lineitem"] = lineitem_for_orders(
        rng,
        t["orders"]["o_orderkey"].to_numpy(),
        t["orders"]["o_orderdate"].to_numpy(),
        n_part,
        n_supp,
    )
    us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(_EPOCH_2024 + us.astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(20, n_ev // 67), n_ev).astype(np.int64),
            "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.gamma(2.0, 20.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _docs(rng, n_doc)
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _choice(rng, ["en", "en", "en", "de"], n_doc),
            "source": _choice(rng, [f"src{i}" for i in range(20)], n_doc),
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels,
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict[str, int]]:
    """Write ``{out_dir}/{name}.parquet``; return rows and bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        info[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return info


# ---------------------------------------------------------------------------
# CDC change log
# ---------------------------------------------------------------------------

CDC_COLUMNS = (
    "O_ORDERKEY O_CUSTKEY O_ORDERSTATUS O_TOTALPRICE O_ORDERDATE O_YEAR "
    "CHANGE_SEQ IS_DELETED"
).split()


# a CDC batch updates this share of the live keys (a tenth of those as
# tombstones) and inserts this share of new keys
UPDATE_FRAC = 0.01
INSERT_FRAC = 0.005


class ChangeLog:
    """An ``orders`` change log: an initial snapshot, then batches of
    ``UPDATE_FRAC`` updates and ``INSERT_FRAC`` inserts.  Every change row
    gets the next ``CHANGE_SEQ``; a key keeps its ``O_YEAR`` (the
    partition column) for life, as an order's date never changes."""

    def __init__(self, seed: int, n_keys: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.next_key = 0
        self.next_seq = 1
        self.date_of: dict[int, dt.date] = {}
        self.live: set[int] = set()
        self.batches: list[list[tuple]] = [self._rows(self._new_keys(n_keys), [])]

    def _new_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        for k, d in zip(keys, self.rng.integers(0, 2404, n)):
            self.date_of[k] = dt.date(1995, 1, 1) + dt.timedelta(days=int(d))
        return keys

    def _rows(self, upserts: list[int], deletes: list[int]) -> list[tuple]:
        changes = [(k, 0) for k in upserts] + [(k, 1) for k in deletes]
        rows = []
        for i in self.rng.permutation(len(changes)):
            k, tomb = changes[i]
            rows.append(
                (
                    k,
                    int(self.rng.integers(0, 15_000)),
                    "OFP"[int(self.rng.integers(0, 3))],
                    round(float(self.rng.uniform(1000.0, 500_000.0)), 2),
                    self.date_of[k],
                    self.date_of[k].year,
                    self.next_seq,
                    tomb,
                )
            )
            self.next_seq += 1
            if tomb:
                self.live.discard(k)
            else:
                self.live.add(k)
        return rows

    def next_batch(self) -> list[tuple]:
        live = np.array(sorted(self.live), dtype=np.int64)
        n_upd = max(1, int(len(live) * UPDATE_FRAC))
        touched = self.rng.choice(live, n_upd, replace=False).tolist()
        n_del = max(1, n_upd // 10)
        deletes, updates = touched[:n_del], touched[n_del:]
        inserts = self._new_keys(max(1, int(len(live) * INSERT_FRAC)))
        rows = self._rows(updates + inserts, deletes)
        self.batches.append(rows)
        return rows

    def all_rows(self) -> list[tuple]:
        return [r for b in self.batches for r in b]
