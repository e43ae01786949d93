"""Seeded input generators for the benchmark workloads.

Everything here is plain Python + pyarrow: the same ``seed`` gives the same
rows on any host, and nothing touches Spark, so generation time is honest
set-up time and the program under test only ever sees the generated files.

- ``jdbc_events``: a bursty event stream for the Derby-backed JDBC source.
- ``tail_documents``: number-keyed JSON-lines objects with verbatim resends.
- ``write_batch_tables``: the star schema + ``documents`` + ``events`` tables
  the batch queries read, shaped like the repo's synthetic test tables (one
  parquet file with one row group per table, so scans plan one split).
"""

from __future__ import annotations

import csv
import json
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
WINDOW_STEP = timedelta(seconds=60)

# the vocabulary of the repo's synthetic documents table
VOCAB = (
    "a the data spark stream table column row key value hash sort merge join "
    "filter group agg window scan query order part line batch vector customer "
    "big small fast slow"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EVENT_KINDS = ["view", "click", "purchase", "signup", "error"]


def _doc_text(rng: random.Random, lo: int = 8, hi: int = 90) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


# ---------------------------------------------------------------------------
# ingest_jdbc_backfill
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class JdbcEvents:
    rows: list[tuple]  # (event_id, ts, user_id, kind, amount, note)
    max_ts: datetime

    @property
    def ids(self) -> set[int]:
        return {r[0] for r in self.rows}


def jdbc_events(seed: int, minutes: int, mean_rows: int) -> JdbcEvents:
    """A bursty stream over ``minutes`` one-minute slots.

    15 % of the slots are quiet (no rows: the tumbling window that lands
    there comes back empty), 35 % are bursts of 1.3-2x ``mean_rows`` and the
    rest carry 0.5-1x. Bursts are then more than a tenth of the epochs, so
    an epoch-time p90 falls among them rather than on their edge. The seed places the slots and draws every timestamp
    and value; the mix itself is fixed, so the total row count and the
    number of empty windows do not swing from seed to seed. The first and
    last slots are never quiet. Timestamps carry microseconds and fall in
    the first half of their minute, the last one exactly at +30 s, so each
    60 s window that starts at the previous batch's max(ts) takes exactly
    one slot: a drain has one epoch per slot plus the initial empty window,
    whatever the seed.
    """
    rng = random.Random(seed)
    n_quiet, n_burst = round(0.15 * minutes), round(0.35 * minutes)
    n_normal = minutes - n_quiet - n_burst
    counts = [int(mean_rows * (1.3 + 0.7 * i / max(1, n_burst - 1))) for i in range(n_burst)]
    counts += [int(mean_rows * (0.5 + 0.5 * i / max(1, n_normal - 1))) for i in range(n_normal)]
    rng.shuffle(counts)
    for _ in range(n_quiet):
        counts.insert(rng.randrange(1, len(counts)), 0)
    rows: list[tuple] = []
    for m, n in enumerate(counts):
        base = EPOCH0 + m * WINDOW_STEP
        offsets = sorted(rng.randrange(30_000_000) for _ in range(n - 1)) + [30_000_000] * (n > 0)
        for us in offsets:
            rows.append((
                len(rows),
                base + timedelta(microseconds=us),
                rng.randrange(5000),
                rng.choice(EVENT_KINDS),
                round(rng.uniform(0, 500), 2),
                "n" + format(rng.getrandbits(64), "x"),
            ))
    return JdbcEvents(rows, max(r[1] for r in rows))


def write_events_csv(events: JdbcEvents, path: str) -> None:
    """CSV in the layout Derby's SYSCS_IMPORT_TABLE reads (naive UTC)."""
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        for eid, ts, user, kind, amount, note in events.rows:
            w.writerow([eid, ts.strftime("%Y-%m-%d %H:%M:%S.%f"), user, kind, amount, note])


# ---------------------------------------------------------------------------
# tail_objects_dedup
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class TailObjects:
    objects: list[list[dict]]  # object N+1's documents
    unique_ids: set[int]  # every doc that should survive dedup
    sent: int  # documents sent in total, resends included


def tail_documents(seed: int, n_objects: int, docs_per_object: int, resend_share: float = 0.1) -> TailObjects:
    """Fresh unique documents chunked into objects; after the first object,
    a seed-chosen ~``resend_share`` of each object's lines are verbatim
    resends (same id, same text) of documents from earlier objects."""
    rng = random.Random(seed)
    seen_text: set[str] = set()
    sent_docs: list[dict] = []
    objects: list[list[dict]] = []
    next_id = 0
    for o in range(n_objects):
        n_resend = int(docs_per_object * resend_share) if o else 0
        obj = [rng.choice(sent_docs) for _ in range(n_resend)]
        fresh = []
        while len(fresh) < docs_per_object - n_resend:
            text = _doc_text(rng)
            if text in seen_text:
                continue
            seen_text.add(text)
            fresh.append({"doc_id": next_id, "text": text})
            next_id += 1
        obj += fresh
        rng.shuffle(obj)
        sent_docs += fresh
        objects.append(obj)
    return TailObjects(objects, {d["doc_id"] for d in sent_docs}, sum(map(len, objects)))


def write_tail_objects(tail: TailObjects, root: str, prefix: str) -> None:
    """``{root}/{prefix}{N}`` for N = 1..n_objects: bare numbers, so key
    order is not cursor order (the number cursor must list every key)."""
    os.makedirs(root, exist_ok=True)
    for n, obj in enumerate(tail.objects, start=1):
        with open(os.path.join(root, f"{prefix}{n}"), "w", encoding="utf-8") as f:
            f.writelines(json.dumps(d) + "\n" for d in obj)


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------

def batch_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Star schema + documents + events at ``scale`` (1.0 ~ 600k lineitems),
    with the column names, types and uniform distributions of the repo's
    synthetic test tables."""
    rng = random.Random(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), max(10, int(10_000 * scale)), int(200_000 * scale)
    n_orders, n_docs, n_events = int(1_500_000 * scale), int(50_000 * scale), int(1_000_000 * scale)
    n_users = max(20, int(15_000 * scale))
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    t = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": regions,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
            "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]) for _ in range(n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
            "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)],
        }),
    }
    day0 = datetime(1995, 1, 1)
    odates = [day0 + timedelta(days=rng.randrange(1800)) for _ in range(n_orders)]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(1000, 500_000), 2) for _ in range(n_orders)],
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]) for _ in range(n_orders)],
    })
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")}
    for _ in range(n_orders * 4):
        ok = rng.randrange(n_orders)
        qty = float(rng.randint(1, 50))
        li["l_orderkey"].append(ok)
        li["l_partkey"].append(rng.randrange(n_part))
        li["l_suppkey"].append(rng.randrange(n_supp))
        li["l_linenumber"].append(rng.randint(1, 7))
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * rng.uniform(900, 3000), 2))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("ARN"))
        li["l_linestatus"].append(rng.choice("OF"))
        li["l_shipdate"].append(odates[ok] + timedelta(days=rng.randint(1, 120)))
    t["lineitem"] = pa.table({
        **li,
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us")),
    })
    texts = [_doc_text(rng) for _ in range(n_docs)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    ev0 = EPOCH0.replace(tzinfo=None)
    ets = sorted(ev0 + timedelta(microseconds=rng.randrange(30 * 86_400_000_000)) for _ in range(n_events))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_events)], pa.int64()),
        "event_type": [rng.choice(EVENT_KINDS) for _ in range(n_events)],
        "value": [round(rng.uniform(0, 50), 2) for _ in range(n_events)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)],
    })
    return t


def write_batch_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file, one row group per table (the test tables' layout)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, tbl.num_rows))
