"""Seeded input generators for the benchmark.

``write_tables`` writes the ten fixture tables the query catalog reads
(TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), with the column names, types and value vocabularies of
the fixture tables described in FIXTURES.md. ``webhook_batch`` makes
one round of CRM webhook POSTs for the ingest workload. The same seed
always gives the same inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE")
PART_ADJ = ("cold", "small", "large", "blue", "new", "hot", "red", "old")
PART_NOUN = ("widget", "bolt", "rod", "gear", "anvil", "ring", "plate", "gizmo")
PART_TYPES = ("PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
LANGS = ("en", "en", "fr", "es", "zh", "de")
VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
EMB_DIM = 64


def _ts(rng, start: dt.datetime, end: dt.datetime, n: int, unit: str) -> np.ndarray:
    lo = np.datetime64(start, unit).astype(np.int64)
    hi = np.datetime64(end, unit).astype(np.int64)
    return rng.integers(lo, hi, n).astype(f"datetime64[{unit}]")


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All fixture tables at ``scale`` (1.0 = the sf0.001
    fixture: 6,000 lineitems, 500 documents, 500 embeddings)."""
    rng = np.random.default_rng(seed)
    n_cust = max(30, int(150 * scale))
    n_supp = max(5, int(10 * scale))
    n_part = max(40, int(200 * scale))
    n_ord = max(300, int(1500 * scale))
    n_li = max(1200, int(6000 * scale))
    n_ev = max(200, int(1000 * scale))
    n_doc = max(100, int(500 * scale))
    n_emb = max(100, int(500 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
        }
    )
    names = [
        f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)
    ]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(names, s),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 200) * 0.1, 2), f64
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(("O", "F", "P"), n_ord), s),
            "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
            "o_orderdate": pa.array(
                _ts(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 2), n_ord, "D")
                .astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": pa.array(money(900, 105000, n_li), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(("N", "R", "A"), n_li), s),
            "l_linestatus": pa.array(rng.choice(("F", "O"), n_li), s),
            "l_shipdate": pa.array(
                _ts(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 5), n_li, "D")
                .astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
        }
    )
    ev_ts = np.sort(
        _ts(rng, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31), n_ev, "us")
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(5, n_ev // 66), n_ev), i64),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev) + 0.01, 2), f64),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)], s
            ),
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.04:  # exact re-post of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:  # near-duplicate: an earlier doc, tagged
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(LANGS, n_doc), s),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = centers[labels] + 1.5 * rng.normal(size=(n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table as ``{out_dir}/{name}.parquet`` (one file, one
    row group — the fixture layout of TESTDATA.md)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- webhook events ---------------------------------------------------

ACCOUNTS = ("office_a", "office_b", "office_c")
EVENTS = (
    "lead.step.changed",
    "lead.creation",
    "lead.deleted",
    "client_folder.created",
)
STEPS = ("Referidos", "Asesorados", "Ingresados", "Autorizados", "Firmados", "Rechazados")
N_AGENTS = 12


def webhook_batch(
    rng: np.random.Generator,
    first_id: int,
    n: int,
    posted: list[dict],
    n_leads: int,
) -> list[dict]:
    """One round of POSTs. Each item is ``{"account", "body", "kind"}``
    where ``kind`` is ``valid``, ``retry`` (a provider redelivery of an
    earlier id, byte-identical body), ``foreign`` (a well-formed event
    for a non-whitelisted account) or ``malformed`` (a body that is not
    a JSON object). Lead ids are Zipf-skewed, so a few leads get most
    of the step changes; about 8% of valid events are ``lead.deleted``."""
    out: list[dict] = []
    eid = first_id
    earlier = [p for p in posted if p["kind"] == "valid"]
    for _ in range(n):
        r = rng.random()
        if r < 0.10 and earlier:
            prev = earlier[int(rng.integers(0, len(earlier)))]
            out.append({**prev, "kind": "retry"})
            continue
        if 0.10 <= r < 0.12:
            out.append({"account": ACCOUNTS[0], "body": b"{not json", "kind": "malformed"})
            continue
        eid += 1
        lead = int(min(rng.zipf(1.3), n_leads))
        u = rng.random()
        event = EVENTS[2] if u < 0.08 else EVENTS[0] if u < 0.7 else EVENTS[1] if u < 0.9 else EVENTS[3]
        step = STEPS[int(rng.integers(0, len(STEPS)))]
        agent = int(rng.integers(0, N_AGENTS))
        payload = {
            "webhook_event": {
                "id": eid,
                "event": event,
                "signature": f"sig{eid}",
                "has_succeeded": True,
                "try_count": 1,
                "last_returned_code": 200,
                "data": {
                    "id": lead,
                    "title": f"Lead {lead}",
                    "pipeline": "Ventas",
                    "step": step,
                    "status": "open",
                    "amount": round(float(rng.uniform(1000, 90000)), 2),
                    "created_at": f"2025-{1 + lead % 12:02d}-15T09:30:00.000000Z",
                    "updated_at": "2025-09-30T18:00:00.000000Z",
                    "user": {"email": f"agent{agent}@example.com"},
                    "client_folder": {"id": lead % 40, "name": f"Folder {lead % 40}"},
                    "tags": ["crm", "hot" if lead % 2 else "cold"],
                },
            }
        }
        foreign = rng.random() < 0.03
        item = {
            "account": "office_evil" if foreign else ACCOUNTS[int(rng.integers(0, 3))],
            "body": json.dumps(payload, separators=(",", ":")).encode(),
            "kind": "foreign" if foreign else "valid",
            "id": eid,
            "event": event,
            "lead": lead,
            "step": step,
            "amount": payload["webhook_event"]["data"]["amount"],
            "email": f"agent{agent}@example.com",
        }
        out.append(item)
    return out
